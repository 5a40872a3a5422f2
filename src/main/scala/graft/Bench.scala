package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark over all declared queries at SPARK_GRAFT_SF_DIR.
  *
  * Output contract: ONE compact JSON line on stdout. The driver captures only
  * the tail of the run's output, so the line must stay small: `value` is the
  * total over ALL queries, `queries` holds the slowest 15, `families` rolls
  * every query up by prefix, and `errors` names any query that threw (a
  * failure must not silently deflate the total — it is reported, and its
  * elapsed time still counts). Full per-query timings go to
  * `BENCH_DETAIL.json` in the working directory.
  *
  * Contention robustness: the driver machine may be busy, and a single timed
  * pass cannot tell "slow plan" from "stolen CPU". Two defenses:
  *   - every BATCH query runs twice and reports min-of-N (an OS scheduler
  *     can slow a run down but never speed it up, so the min is the better
  *     estimate of the plan's cost); when the two reps disagree by >3× the
  *     slow one was a steal burst, not the plan — a THIRD rep runs (bounded:
  *     ≤20 extra reps per suite). Streaming jobs run once — their cost is
  *     dominated by fixed state-store setup, and doubling 13 real streaming
  *     jobs would add more wall time than measurement noise it removes;
  *     their per-query steal delta lands in BENCH_DETAIL (`steal_by_query`)
  *     so an inflated number adjudicates from the run's own telemetry;
  *   - the JSON carries `load_avg_start`/`load_avg_end` (1-min system load)
  *     and `available_cpus`, so a contended run is self-evident from its own
  *     telemetry instead of needing cross-run adjudication.
  *
  * Queries run in sorted-name order so per-round numbers are comparable; an
  * untimed warmup absorbs JVM/classloader/codegen startup AND stages the
  * bucketed tables, so q_join_bucketed_colocated times the zero-Exchange
  * join it exists to prove, not a one-off `saveAsTable`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // hypervisor steal jiffies (/proc/stat cpu col 8): a noisy-neighbor host
    // slows every query uniformly while load average stays LOW — the steal
    // delta is the one signal that distinguishes "slow plan" from "slow
    // machine" on a contended VM
    def stealJiffies: Long =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
          .asScala.find(_.startsWith("cpu "))
          .map(_.trim.split("\\s+")).filter(_.length > 8)
          .map(_(8).toLong).getOrElse(-1L)
      } catch { case _: Throwable => -1L }
    val loadStart = loadAvg
    val stealStart = stealJiffies

    // untimed warmup: parquet reader + codegen + shuffle machinery, plus the
    // bucketed join's one-off table staging (measurement setup, not a query)
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().collect()
    ops.Joins.stageBucketed(spark, sfDir)
    // ... and the STREAMING runtime: the first streaming query in a session
    // pays ~2s of one-time micro-batch/WAL/state-store classloading and
    // codegen (measured r15: an identical drain costs 3.3s first, 0.8s
    // steady) — absorb it here exactly like the batch codegen above. One
    // 1-row rate drain through a watermarked dedup touches the offset log,
    // the state store and the streaming sink path; no query state survives
    // (fresh temp checkpoint, noop sink), so nothing is precomputed.
    try {
      val wq = spark.readStream.format("rate")
        .option("rowsPerSecond", "1").option("numPartitions", "1").load()
        .withWatermark("timestamp", "1 second")
        .dropDuplicates("value")
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      wq.awaitTermination()
    } catch { case _: Throwable => () }

    // a streaming query's time is one real micro-batch job + state store —
    // rerunning it re-pays fixed setup, not the plan; batch queries rerun
    val streaming: String => Boolean =
      n => n.startsWith("q_stream") || n == "q_source_rate_stream"

    var errors = List.empty[String]
    // (seconds, succeeded) per execution. noop sink: materializes every
    // output column through the FULL plan (a count() would let Catalyst
    // prune projections and elide the final sort, understating real cost)
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case _: Throwable => if (!errors.contains(name)) errors ::= name; false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // SPARK_GRAFT_ONLY=<prefix>: restrict to one query/family for local
    // iteration; the driver never sets it, so the contract run covers all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    // steal-burst hardening: when a batch query's two reps disagree by >3×,
    // the slow rep was almost certainly a hypervisor burst, not the plan —
    // take a THIRD rep so min-of-3 reports the plan. Bounded (at most 20
    // extra reps per run) so a uniformly-contended window cannot double the
    // suite's wall time chasing noise.
    val extraReps = new java.util.concurrent.atomic.AtomicInteger(20)
    // per-query steal deltas (streaming jobs run once — their delta is the
    // only way to adjudicate an inflated number from the run's own telemetry)
    val stealByQuery = scala.collection.mutable.LinkedHashMap[String, Long]()
    val runs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.startsWith) }
      .map { case (name, fn) =>
      val s0 = stealJiffies
      val r1 = once(name, fn)
      val rs =
        if (streaming(name) || !r1._2) Seq(r1)
        else {
          val r2 = once(name, fn)
          val two = Seq(r1, r2)
          val (lo, hi) = (math.min(r1._1, r2._1), math.max(r1._1, r2._1))
          if (r2._2 && hi > 3.0 * lo && extraReps.getAndDecrement() > 0)
            two :+ once(name, fn)
          else two
        }
      val s1 = stealJiffies
      if (s0 >= 0 && s1 >= 0) stealByQuery(name) = s1 - s0
      name -> rs
    }
    // min over SUCCESSFUL runs only — a fast failure on the rerun must not
    // deflate a valid timing; if every run failed, the elapsed time still
    // counts (a failure must not deflate the total either)
    val results = runs.map { case (n, rs) =>
      val good = rs.filter(_._2)
      n -> (if (good.nonEmpty) good.map(_._1).min else rs.map(_._1).max)
    }
    val loadEnd = loadAvg

    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def dict(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")

    val total = results.map(_._2).sum
    val slowest = results.sortBy(-_._2).take(15)
    val families = results
      .groupBy { case (n, _) => n.split("_").take(2).mkString("_") }
      .map { case (f, rs) => f -> rs.map(_._2).sum }
      .toSeq.sortBy(_._1)
    val errJson = errors.sorted.map(e => s""""$e"""").mkString("[", ",", "]")
    val stealEnd = stealJiffies
    val stealDelta =
      if (stealStart < 0 || stealEnd < 0) -1L else stealEnd - stealStart
    val env = s""""load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadEnd)},""" +
      s""""steal_jiffies_delta":$stealDelta,""" +
      s""""available_cpus":${Runtime.getRuntime.availableProcessors}"""

    // full per-query detail for the repo (small file, not stdout): both raw
    // runs plus the min the totals use
    val runsJson = runs.map { case (n, rs) =>
      s""""$n":[${rs.map(r => fmt(r._1)).mkString(",")}]""" }.mkString("{", ",", "}")
    val stealJson = stealByQuery.map { case (n, s) => s""""$n":$s""" }
      .mkString("{", ",", "}")
    val detail = s"""{"total_sec":${fmt(total)},"n_queries":${results.size},""" +
      s""""errors":$errJson,"sf":"$sfDir","cpus":$cpus,$env,""" +
      s""""protocol":"min-of-2 batch (+3rd rep when reps disagree >3x, """ +
      s"""max 20/run), 1x streaming, noop sink",""" +
      s""""queries":${dict(results)},"runs":$runsJson,""" +
      s""""steal_by_query":$stealJson}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detail.getBytes)
    catch { case _: Throwable => () }

    // stop Spark BEFORE printing: its shutdown logging must not trail the
    // JSON — the driver's parser reads the LAST stdout line, so the summary
    // line is printed last, unprefixed, and flushed
    spark.stop()
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"errors":$errJson,$env,""" +
      s""""families":${dict(families)},"queries":${dict(slowest)},"sf":"$sfDir"}""")
    System.out.flush()
  }
}

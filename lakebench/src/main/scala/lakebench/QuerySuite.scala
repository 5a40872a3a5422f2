package lakebench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

/** `query_suite`: a fixed set of batch `SparkEntry.queries` over the sf0.1
  * test data, timed through the noop sink.
  *
  * The set was chosen by layer before any timing of this benchmark: the
  * ops-layer families `tpch`, `join`, `agg`, `win`, `fn` and `ext`, no
  * streaming and no `q_source` query, so the table layer stays idle.
  * Within a family the cheaper queries of the committed
  * `BENCH_DETAIL.json` were taken so that one cold pass and two warm
  * passes fit in one run on four cores; for the same reason the `sql`
  * family's only query (`q_sql_recursive_cte`) and the heavy `ext`
  * operators (pagerank, minhash, dedup_e2e, bm25) are left out. Each query
  * runs once cold (after one untimed warm-up on an unrelated query shape),
  * then warm in repeated passes until `--seconds` after the cold pass
  * began. The JIT is still compiling for most of that window, so only the
  * passes that start in its second half are timed. The seed only permutes
  * the order. Outputs are dumped after the window and compared with DuckDB
  * by `run.py`. */
object QuerySuite {
  /** One warm pass over the suite: when it started (ns), how long it took,
    * each query's time (s), and the CPU, steal, JIT compile and GC time it
    * saw. */
  final case class Pass(start: Long, seconds: Double, times: Map[String, Double],
      cpuMs: Double, steal: Long, jitMs: Long, gcMs: Long)

  val Queries: Seq[String] = Seq(
    "q_tpch_q6_shape", "q_join_left_anti", "q_agg_global", "q_agg_minmax_by",
    "q_win_topk_per_group", "q_fn_array", "q_fn_string",
    "q_ext_fingerprint", "q_ext_histogram", "q_ext_exact_dedup")

  def family(q: String): String = q.split("_")(1)

  def run(ctx: Ctx, rec: Record): Unit = {
    val spark = ctx.spark
    val tr = ctx.trace
    val t0 = System.nanoTime()
    require(Files.isRegularFile(Paths.get(ctx.sfDir, "lineitem.parquet")),
      s"no test data at ${ctx.sfDir}")
    val all = graft.SparkEntry.queries
    val missing = Queries.filterNot(all.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")
    val order = {
      val rnd = new SplittableRandom(ctx.seed)
      val a = Queries.toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
    // untimed warm-up: parquet reader, codegen and shuffle machinery
    spark.read.parquet(s"${ctx.sfDir}/lineitem.parquet").groupBy("l_returnflag").count().collect()
    val setupS = ctx.sessionS + (System.nanoTime() - t0) / 1e9

    def once(q: String): Double = {
      val s = System.nanoTime()
      try {
        tr("ops", q)(all(q)(spark, ctx.sfDir).write.mode("overwrite").format("noop").save())
        rec.op(ok = true, "")
      } catch { case e: Exception => rec.op(ok = false, s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      rec.ops += 1
      (System.nanoTime() - s) / 1e9
    }
    tr.begin()
    // The window opens with the cold pass. Warm passes that start in its
    // first half warm the JIT up; the timings come from the passes that
    // start in its second half (at least the last pass). A traced run does
    // exactly two warm passes and times both, so that two traced runs of one
    // seed execute the same queries and their counts compare.
    val w0 = System.nanoTime()
    val half = w0 + (ctx.seconds * 0.5e9).toLong
    val end = w0 + (ctx.seconds * 1e9).toLong
    val cold = order.map(q => q -> once(q)).toMap
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val passes = mutable.ArrayBuffer[Pass]()
    while (passes.size < 2 || !tr.on && System.nanoTime() < end) {
      val (ps, cpu0, steal0, jit0, gc0) =
        (System.nanoTime(), Cpu.now, Telemetry.stealJiffies, jit.getTotalCompilationTime, Telemetry.gcMs)
      val times = order.map(q => q -> once(q)).toMap
      passes += Pass(ps, (System.nanoTime() - ps) / 1e9, times, (Cpu.now - cpu0) / 1e6,
        Telemetry.stealJiffies - steal0, jit.getTotalCompilationTime - jit0, Telemetry.gcMs - gc0)
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    tr.end()
    val timed = if (tr.on) passes.toSeq else passes.filter(_.start >= half).toSeq match {
      case Seq() => passes.takeRight(1).toSeq
      case xs => xs
    }

    // outputs for the DuckDB comparison, untimed
    val out = ctx.dir("qout")
    order.foreach { q =>
      try all(q)(spark, ctx.sfDir).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      catch { case e: Exception => rec.op(ok = false, s"$q dump threw ${e.getMessage}") }
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.obj(Queries.flatMap(q => oracle.get(q).map(q -> _))))

    val warm = order.map(q => q -> timed.map(_.times(q))).toMap
    val warmMed = warm.map { case (q, xs) => q -> Stats.median(xs) }
    val warmAll = timed.flatMap(_.times.values).map(_ * 1000)
    val timedS = timed.map(_.seconds).sum
    rec.contract("setup_s") = setupS
    // the median query's best timed execution, and the fastest timed pass:
    // a burst of load on the host slows some executions down, never one up
    rec.contract("op_p50_ms") = Stats.median(warm.values.map(_.min).toSeq) * 1000
    rec.contract("ops_per_s") = Queries.size / timed.map(_.seconds).min
    rec.report("timed_ops_per_s") = warmAll.size / timedS
    rec.report("setup_s") = setupS
    rec.report("cpu_ms_per_op") = timed.map(_.cpuMs).sum / warmAll.size
    rec.report("query_warm_s") = warmMed.values.sum
    rec.report("query_cold_s") = cold.values.sum
    rec.timing("query_warm", "ms", warmAll)
    rec.report("warm_passes") = passes.size
    rec.report("timed_passes") = timed.size
    order.foreach { q =>
      rec.report(s"query.$q.cold_s") = cold(q)
      rec.report(s"query.$q.warm_s") = warmMed(q)
    }
    rec.inputs ++= Seq("queries" -> Queries, "order" -> order, "sf_dir" -> ctx.sfDir,
      "window_s" -> windowS, "pass_s" -> passes.map(_.seconds).toSeq,
      "pass_steal_jiffies" -> passes.map(_.steal).toSeq, "pass_jit_ms" -> passes.map(_.jitMs).toSeq,
      "pass_gc_ms" -> passes.map(_.gcMs).toSeq)
    if (tr.on) Queries.map(family).distinct.foreach { f =>
      val qs = Queries.filter(q => family(q) == f)
      val w = qs.map(warmMed).sum
      rec.layers(s"ops.$f.warm_s") = w
      rec.layers(s"ops.$f.cold_minus_warm_s") = qs.map(cold).sum - w
    }
  }
}

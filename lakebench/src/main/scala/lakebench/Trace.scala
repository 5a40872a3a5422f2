package lakebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts recorded around the benchmark's calls into each layer.
  *
  * With tracing off, [[apply]] runs its body and records nothing, and no
  * Spark listener is registered: the end-to-end metrics come from those
  * runs. With tracing on, every call records a span (layer, name, start,
  * end, parent) in memory, and two listeners count what the Spark runtime
  * did underneath: task CPU and run time, shuffle and spill from a
  * `SparkListener`; Catalyst phase times and an executed-plan census from a
  * `QueryExecutionListener`. [[begin]] and [[end]] mark the measured
  * window (draining the listener bus at both ends); [[finish]] reports the
  * window's deltas. */
final class Trace(spark: SparkSession, val on: Boolean) {
  final case class Span(parent: Int, layer: String, name: String, start: Long, var end: Long)
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var measuring = false
  private val counts = mutable.LinkedHashMap[String, Double]()

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on || !measuring) body
    else {
      val id = spans.size
      val s = Span(stack.headOption.getOrElse(-1), layer, name, System.nanoTime(), 0L)
      spans += s
      stack = id :: stack
      try body finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** Add to a per-layer amount (traced runs, measured window only). */
  def count(name: String, v: Double): Unit =
    if (on && measuring) counts(name) = counts.getOrElse(name, 0.0) + v

  /** Self time of each span, in ms: its duration minus what its children cover. */
  def selfMs(layer: String, name: String): Seq[Double] = {
    val child = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.collect {
      case i if spans(i).layer == layer && spans(i).name == name =>
        (spans(i).end - spans(i).start - child(i)) / 1e6
    }.toSeq
  }

  // ---- Spark runtime counters (exec / catalyst / plan layers) -------------
  private val ctr = mutable.LinkedHashMap[String, AtomicLong]()
  private def c(n: String) = ctr.getOrElseUpdate(n, new AtomicLong())
  Seq("exec.task_cpu_ns", "exec.task_run_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_records", "exec.spill_bytes", "exec.jobs", "exec.stages",
    "exec.tasks", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.queries", "plan.exchanges",
    "plan.reused_exchanges", "plan.broadcast_exchanges", "plan.generates",
    "plan.sort_aggregates", "plan.windows", "v2.scan.files_read",
    "v2.scan.files_skipped", "v2.scan.bytes_planned", "v2.scan.footer_reads").foreach(c)
  private val markersSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val MarkerKey = "lakebench.marker"

  private object Census extends AdaptiveSparkPlanHelper {
    private val names = Map(
      "ShuffleExchangeExec" -> "plan.exchanges",
      "ReusedExchangeExec" -> "plan.reused_exchanges",
      "BroadcastExchangeExec" -> "plan.broadcast_exchanges",
      "GenerateExec" -> "plan.generates",
      "SortAggregateExec" -> "plan.sort_aggregates",
      "WindowExec" -> "plan.windows")
    private val scanMetrics = Map(
      "graftFilesRead" -> "v2.scan.files_read",
      "graftFilesSkipped" -> "v2.scan.files_skipped",
      "graftBytesPlanned" -> "v2.scan.bytes_planned",
      "graftFooterReads" -> "v2.scan.footer_reads")
    def add(plan: SparkPlan): Unit = foreach(plan) { p =>
      names.get(p.getClass.getSimpleName).foreach(n => c(n).incrementAndGet())
      if (p.getClass.getSimpleName == "BatchScanExec")
        scanMetrics.foreach { case (m, n) => p.metrics.get(m).foreach(x => c(n).addAndGet(x.value)) }
    }
  }

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        c("exec.jobs").incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))).foreach(markersSeen.add)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        c("exec.stages").incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c("exec.tasks").incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          c("exec.task_cpu_ns").addAndGet(m.executorCpuTime)
          c("exec.task_run_ms").addAndGet(m.executorRunTime)
          c("exec.shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c("exec.shuffle_read_records").addAndGet(m.shuffleReadMetrics.recordsRead)
          c("exec.spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        c("catalyst.queries").incrementAndGet()
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          ph.get(p).foreach(s => c(s"catalyst.${p}_ms").addAndGet(s.durationMs))
        }
        try Census.add(qe.executedPlan) catch { case _: Exception => () }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  private var base = Map.empty[String, Long]
  private def drain(): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
    // listener events are delivered in order on one queue: once the marker
    // job's start is seen, every earlier event has been handled
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (!markersSeen.contains(token) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Start of the measured window. */
  def begin(): Unit = {
    measuring = true
    if (on) { drain(); base = ctr.map { case (k, v) => k -> v.get }.toMap }
  }

  private var window = Map.empty[String, Double]

  /** End of the measured window: later calls and Spark work are not counted. */
  def end(): Unit = {
    measuring = false
    if (on) {
      drain()
      window = ctr.map { case (k, v) => k -> (v.get - base.getOrElse(k, 0L)).toDouble }.toMap
    }
  }

  /** Per-layer metrics common to every workload: Spark runtime amounts and
    * the counts added with [[count]]. */
  def finish(rec: Record): Unit = {
    val r = window
    rec.total("exec.task_cpu_s", r("exec.task_cpu_ns") / 1e9)
    rec.total("exec.task_run_s", r("exec.task_run_ms") / 1e3)
    rec.layers("exec.cpu_ratio") =
      if (r("exec.task_run_ms") > 0) r("exec.task_cpu_ns") / 1e6 / r("exec.task_run_ms") else 0.0
    Seq("exec.shuffle_write_bytes", "exec.shuffle_read_records", "exec.spill_bytes",
      "exec.jobs", "exec.stages", "exec.tasks", "catalyst.analysis_ms",
      "catalyst.optimization_ms", "catalyst.planning_ms", "catalyst.queries",
      "plan.exchanges", "plan.reused_exchanges", "plan.broadcast_exchanges",
      "plan.generates", "plan.sort_aggregates", "plan.windows",
      "v2.scan.files_read", "v2.scan.files_skipped", "v2.scan.bytes_planned",
      "v2.scan.footer_reads").foreach(k => rec.total(k, r(k)))
    counts.foreach { case (k, v) => rec.total(k, v) }
  }
}

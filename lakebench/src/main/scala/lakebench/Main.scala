package lakebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]: the gated metrics, the
  * full named report, the per-layer numbers (traced runs only) and the
  * outcome of every output check. */
final class Record {
  val contract = scala.collection.mutable.LinkedHashMap[String, Double]()
  val report = scala.collection.mutable.LinkedHashMap[String, Any]()
  val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
  val inputs = scala.collection.mutable.LinkedHashMap[String, Any]()
  /** Per-layer amounts summed over the measured window; they are reported
    * per operation of the workload's loop (`ops`), so runs that fit a
    * different number of operations into their time stay comparable. */
  val totals = scala.collection.mutable.LinkedHashMap[String, Double]()
  def total(name: String, v: Double): Unit = totals(name) = totals.getOrElse(name, 0.0) + v
  var ops = 0L
  var attempted = 0L
  var failed = 0L
  val errors = scala.collection.mutable.ArrayBuffer[String]()

  /** Count one checked operation; a mismatch or exception is a failure. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
  }

  /** Compare an output with the model, then make sure the comparison would
    * have caught a dropped row and a changed value in that same output. */
  var selfTested = 0
  def verify(name: String, expected: Check.Rows)(actual: => Check.Rows): Unit = {
    val a = try Right(actual) catch { case e: Exception => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    a match {
      case Left(err) => op(ok = false, s"$name: $err")
      case Right(rows) =>
        val d = Check.diff(expected, rows)
        op(d.isEmpty, s"$name: ${d.getOrElse("")}")
        selfTested += 1
        Check.selfTest(name, expected, rows).foreach(m => op(ok = false, s"checker self-test: $m"))
    }
  }

  /** Record a timing as its median and the highest percentile that has at
    * least ten samples beyond it, with the sample count. */
  def timing(name: String, unit: String, xs: Seq[Double]): Unit = {
    report(s"${name}_p50_$unit") = Stats.median(xs)
    report(s"${name}_p95_$unit") = Stats.pct(xs, 95)
    report(s"${name}_n") = xs.size
    Stats.tail(xs).foreach { case (q, v) =>
      report(s"${name}_tail_pct") = q
      report(s"${name}_tail_$unit") = v
    }
  }
}

/** One seeded workload run inside one JVM.
  *
  * {{{
  * java -cp <classpath> lakebench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <sfDir>
  * }}}
  * The full record goes to `<workDir>/record.json`; `lakebench/run.py`
  * turns it into the benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, sfDir) = args
    val telemetry = Telemetry.start()
    val t0 = System.nanoTime()
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    // query_suite gets one task thread: at sf0.1 its queries run no faster
    // on four, and the free cores keep the JIT and other load on the host
    // out of the timings
    val cpus = if (workload == "query_suite") 1 else Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(spark, traceS == "1")
    val ctx = Ctx(spark, seedS.toLong, secondsS.toDouble, trace, work, sfDir, sessionS)
    val rec = new Record
    rec.inputs("task_threads") = cpus
    workload match {
      case "stream_ingest" => StreamIngest.run(ctx, rec)
      case "query_suite" => QuerySuite.run(ctx, rec)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (trace.on) {
      trace.finish(rec)
      rec.totals.foreach { case (k, v) => rec.layers(k) = if (rec.ops > 0) v / rec.ops else 0.0 }
    }
    rec.report("ops") = rec.ops
    rec.report("peak_rss_mb") = Telemetry.peakRssMb
    rec.contract("peak_rss_mb") = Telemetry.peakRssMb
    spark.stop()

    val out = Json.obj(Seq(
      "workload" -> workload, "seed" -> seedS.toLong, "seconds" -> secondsS.toDouble,
      "trace" -> (traceS == "1"),
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "errors" -> rec.errors.toSeq, "checks_self_tested" -> rec.selfTested,
      "contract" -> rec.contract.toSeq,
      "report" -> rec.report.toSeq,
      "layers" -> rec.layers.toSeq,
      "inputs" -> rec.inputs.toSeq,
      "telemetry" -> telemetry.finish()))
    Files.writeString(work.resolve("record.json"), out)
  }
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Trace, work: Path, sfDir: String, sessionS: Double) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Contention telemetry: hypervisor steal, load average and CPUs, so a run
  * slowed by a noisy neighbour shows it in its own record. */
object Telemetry {
  def stealJiffies: Long =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (cpu(0) == "cpu" && cpu.length > 8) cpu(8).toLong else -1L
    } catch { case _: Exception => -1L }

  /** Time all collectors of this JVM have spent, in ms. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb: Double =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }

  /** A fixed single-threaded CPU task (SHA-256 over 64 MiB, best of three),
    * in ms: it reads higher when the host gives the run a slower CPU, which
    * steal does not always show. */
  def cpuProbeMs(): Double = {
    val buf = new Array[Byte](1 << 20)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (1 to 3).map { _ =>
      val s = System.nanoTime()
      for (_ <- 0 until 64) md.update(buf)
      md.digest()
      (System.nanoTime() - s) / 1e6
    }.min
  }

  final class Window(steal0: Long, load0: Double, probe0: Double) {
    def finish(): Seq[(String, Any)] = {
      val steal1 = stealJiffies
      Seq("steal_jiffies_delta" -> (if (steal0 < 0 || steal1 < 0) -1L else steal1 - steal0),
        "load_avg_start" -> load0, "load_avg_end" -> loadAvg,
        "cpu_probe_ms_start" -> probe0, "cpu_probe_ms_end" -> cpuProbeMs(),
        "available_cpus" -> Runtime.getRuntime.availableProcessors)
    }
  }
  def start(): Window = new Window(stealJiffies, loadAvg, cpuProbeMs())
}

/** CPU time of this JVM (all threads, ns): unlike wall time it leaves out
  * the time the host steals from the run. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now: Long = os.getProcessCpuTime
}

object Stats {
  /** Nearest-rank percentile (0 for no samples). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** The highest whole percentile with at least ten samples above it, when
    * that is above the median. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None else {
      val q = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      Some(q -> xs.sorted.apply(xs.size - 11))
    }
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Minimal JSON writer for the record file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

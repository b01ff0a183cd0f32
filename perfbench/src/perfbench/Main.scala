package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfBenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed operation of a pass: wall time, CPU time (see [[Cpu]]) and
  * the clock probe taken just before it (see [[ClockProbe]]).
  */
final case class Op(kind: String, ms: Double, cpuMs: Double, stepNs: Double, ok: Boolean)

/** A reported number. `scope` is `e2e` (end to end, every workload),
  * `detail` (end to end, this workload only) or `layer` (traced runs).
  */
final case class Metric(name: String, value: Double, unit: String, n: Int,
    scope: String, note: String = "")

/** A closed-loop, single-client workload: set-up, then timed passes over
  * a fixed op list, then a correctness check.
  */
trait Workload {
  /** Inputs and first compiles, into a fresh data directory. */
  def setup(spark: SparkSession, dataDir: String): Unit
  /** Untimed warm-up after [[setup]], billed to set-up. */
  def warm(spark: SparkSession): Unit = pass(spark, traced = false)
  /** One pass over the workload's op list. */
  def pass(spark: SparkSession, traced: Boolean): Seq[Op]
  /** Mismatches against the workload's reference, empty when correct. */
  def check(spark: SparkSession): Seq[String]
  /** End-to-end figures specific to this workload, over the ops of
    * `passes` untraced passes.
    */
  def detail(ops: Seq[Op], passes: Int): Seq[Metric]
  /** Per-layer figures over the traced passes. */
  def layers(passSeconds: Seq[Double]): Seq[Metric]
}

/** Several workloads run as one: set-up, passes and checks in order. */
final class Combined(parts: Workload*) extends Workload {
  private def each[T](phase: String)(f: Workload => Seq[T]): Seq[T] = parts.flatMap { w =>
    val (r, ms) = Main.timedMs(f(w))
    System.err.println(f"[perfbench] ${w.getClass.getSimpleName} $phase: ${ms / 1e3}%.3f s")
    r
  }
  def setup(spark: SparkSession, dataDir: String): Unit =
    each("set-up")(w => { w.setup(spark, s"$dataDir/${parts.indexOf(w)}"); Nil })
  override def warm(spark: SparkSession): Unit = each("warm-up")(w => { w.warm(spark); Nil })
  def pass(spark: SparkSession, traced: Boolean): Seq[Op] = parts.flatMap(_.pass(spark, traced))
  def check(spark: SparkSession): Seq[String] = each("check")(_.check(spark))
  def detail(ops: Seq[Op], passes: Int): Seq[Metric] = parts.flatMap(_.detail(ops, passes))
  def layers(passSeconds: Seq[Double]): Seq[Metric] = parts.flatMap(_.layers(passSeconds))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest percentile with at least ten samples beyond it in a run
    * of [[Main.MinPasses]] passes (p50 below twenty samples), and its
    * value. The percentile depends on the op list only, not on how many
    * passes fit in the run, so a slower host does not lower it.
    */
  def tail(xs: Seq[Double], passes: Int): (Double, Double) = {
    val p = math.max(0.5, 1.0 - 10.0 / (xs.size / passes * Main.MinPasses))
    (p, quantile(xs, p))
  }

  def latency(prefix: String, xs: Seq[Double], scope: String, passes: Int): Seq[Metric] =
    if (xs.isEmpty) Nil
    else {
      val (p, t) = tail(xs, passes)
      Seq(Metric(s"${prefix}_p50_ms", median(xs), "ms", xs.size, scope),
        Metric(s"${prefix}_tail_ms", t, "ms", xs.size, scope, f"p${p * 100}%.1f"))
    }
}

/** CPU time of the work an op asks for: the calling (driver) thread plus
  * every Spark task, the latter from a listener attached for the whole
  * run. Thread CPU time leaves out the time a thread waits or is
  * descheduled, and the JIT compiler and GC threads, so on a shared host
  * it moves less than wall time. A streaming query's own driver-side
  * thread is not counted; its tasks are.
  */
object Cpu extends SparkListener {
  @volatile private var sc: SparkContext = _
  private var taskNs = 0L

  def attach(s: SparkContext): Unit = {
    sc = s
    s.addSparkListener(this)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized {
      taskNs += e.taskMetrics.executorCpuTime + e.taskMetrics.executorDeserializeCpuTime
    }

  /** Driver-thread plus task CPU so far, once every task end has arrived. */
  def nowNs(): Long = {
    PerfBenchBus.drain(sc)
    ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime + synchronized(taskNs)
  }
}

/** The speed of the core under the driver thread, as the CPU time of one
  * step of a fixed chain of dependent 64-bit multiply-adds. The chain
  * touches no memory and no step can start before the previous one ends,
  * so its time per step follows the core's clock. On a shared host the
  * clock moves with the load other tenants put on the machine, and the
  * CPU time of the same work moves with it; scaling by this probe takes
  * that out of `pass_cpu_s`. One probe takes about 6 ms.
  */
object ClockProbe {
  /** The step time `pass_cpu_s` is scaled to, near the probe's median on
    * the 4-core host of the README's baseline, so that the scaled figure
    * reads close to the CPU time there.
    */
  val RefStepNs = 1.5
  private val Steps = 4000000
  @volatile private var sink = 1L

  def stepNs(): Double = {
    val bean = ManagementFactory.getThreadMXBean
    val c0 = bean.getCurrentThreadCpuTime
    var x = sink
    var i = 0
    while (i < Steps) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    sink = x
    (bean.getCurrentThreadCpuTime - c0).toDouble / Steps
  }
}

object Main {

  /** Untraced passes every run makes, however short --seconds is. */
  val MinPasses = 2

  def session(tmp: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.adhesive.AdhesiveSparkExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs one timed op after a clock probe; a failure is logged and
    * counted, not thrown.
    */
  def op(kind: String)(body: => Unit): Op = {
    val step = ClockProbe.stepNs()
    val c0 = Cpu.nowNs()
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    Op(kind, ms, (Cpu.nowNs() - c0) / 1e6, step, ok)
  }

  private def emit(m: Metric): Unit = {
    val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
    println(s"""PB_METRIC {"name":"${m.name}","value":$v,"unit":"${m.unit}",""" +
      s""""n":${m.n},"scope":"${m.scope}","note":"${m.note}"}""")
  }

  /** Spark's own figures per traced pass, from the SparkListener. */
  private def sparkLayer(tracedS: Seq[Double]): Seq[Metric] = {
    val c = Trace.spark
    val n = tracedS.size
    val wall = tracedS.sum
    val cores = Runtime.getRuntime.availableProcessors()
    def m(name: String, v: Double, unit: String) = Metric(name, v, unit, n, "layer")
    Seq(m("spark.jobs", c.jobs.toDouble / n, "count"),
      m("spark.tasks", c.tasks.toDouble / n, "count"),
      m("spark.task_s", c.taskNs / 1e9 / n, "s"),
      m("spark.gc_s", c.gcMs / 1e3 / n, "s"),
      m("spark.max_task_s", c.maxTaskMs / 1e3, "s"),
      m("spark.input_bytes", c.inputBytes.toDouble / n, "bytes"),
      m("spark.shuffle_read_bytes", c.shuffleRead.toDouble / n, "bytes"),
      m("spark.shuffle_write_bytes", c.shuffleWrite.toDouble / n, "bytes"),
      m("spark.driver_gap_s", (wall - c.jobWallMs / 1e3) / n, "s"),
      m("spark.core_util", c.taskNs / 1e9 / (wall * cores), "ratio"))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val tmp = opt("tmp")
    val smoke = opt.get("smoke").contains("1")
    val wl: Workload = opt("workload") match {
      case "udf_calls" => new UdfCalls(seed, smoke)
      case "table_dml" => new TableDml(seed, smoke)
      case "query_suite" => new QuerySuite(seed, smoke, tmp)
      case "udf_query_suite" => new Combined(new UdfCalls(seed, smoke), new QuerySuite(seed, smoke, tmp))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, timed from JVM start to the first timed op: session,
    // inputs, the first compiles, then a warm-up pass where first-run JIT
    // and caches land
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = session(tmp)
    Cpu.attach(spark.sparkContext)
    val tSession = System.nanoTime()
    wl.setup(spark, s"$tmp/data")
    val t1 = System.nanoTime()
    wl.warm(spark)
    val t2 = System.nanoTime()
    val setupS = (t2 - t0) / 1e9
    val warmS = (t2 - t1) / 1e9
    System.err.println(f"[perfbench] set-up: $setupS%.3f s (session ${(tSession - t0) / 1e9}%.3f s, " +
      f"inputs and compiles ${(t1 - tSession) / 1e9}%.3f s, warm-up pass $warmS%.3f s)")

    // timed passes until the time is up, MinPasses untraced at least; a
    // traced run alternates untraced and traced passes, a traced one
    // between two untraced at least, so the tracing overhead is measured
    // in one JVM without the warm-up drift of a fixed order
    val passS = ArrayBuffer.empty[Double]
    val passCpuS = ArrayBuffer.empty[Double]
    val passRawCpuS = ArrayBuffer.empty[Double]
    val tracedS = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Op]
    val allOps = ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // a pass starts while at least half of one typical pass still fits
    def last = (passS ++ tracedS).lastOption.getOrElse(0.0)
    while (System.nanoTime() + last * 0.5e9 < deadline || passS.size < MinPasses ||
        (traced && tracedS.isEmpty)) {
      val tracePass = traced && i % 2 == 1
      Trace.attach(spark, tracePass)
      System.gc()
      val t0 = System.nanoTime()
      val done = wl.pass(spark, tracePass)
      val s = (System.nanoTime() - t0) / 1e9
      val cpu = done.map(_.cpuMs).sum / 1e3
      val step = Stats.median(done.map(_.stepNs))
      if (tracePass) tracedS += s
      else {
        passS += s; passRawCpuS += cpu; passCpuS += cpu * ClockProbe.RefStepNs / step
        ops ++= done
      }
      allOps ++= done
      System.err.println(f"[perfbench] pass $i${if (tracePass) " (traced)" else ""}: $s%.3f s, " +
        f"op cpu $cpu%.3f s at $step%.3f ns/step; wall/cpu ms per op: " +
        done.map(o => f"${o.kind}=${o.ms}%.0f/${o.cpuMs}%.0f").mkString(" "))
      i += 1
    }
    Trace.attach(spark, enable = false)

    val tCheck = System.nanoTime()
    val mismatches = wl.check(spark)
    System.err.println(f"[perfbench] check: ${(System.nanoTime() - tCheck) / 1e9}%.3f s")
    val failedOps = allOps.filterNot(_.ok)
    mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    failedOps.foreach(o => System.err.println(s"[perfbench] FAILED op ${o.kind}"))

    val okOps = ops.filter(_.ok).toSeq
    val e2e = Seq(
      Metric("setup_s", setupS, "s", 1, "e2e", "JVM start to first timed op"),
      Metric("pass_cpu_s", Stats.median(passCpuS.toSeq), "s", passCpuS.size, "e2e",
        f"scaled to ${ClockProbe.RefStepNs} ns/step"),
      Metric("peak_rss_mb", peakRssMb(), "MB", 1, "e2e"))
    val attempted = allOps.size + mismatches.size
    val failed = failedOps.size + mismatches.size
    val common = Seq(Metric("fail_ratio", failed.toDouble / attempted, "ratio", attempted, "detail"),
      Metric("warm_pass_s", warmS, "s", 1, "detail"),
      Metric("pass_s", Stats.median(passS.toSeq), "s", passS.size, "detail"),
      Metric("pass_cpu_raw_s", Stats.median(passRawCpuS.toSeq), "s", passS.size, "detail",
        "not scaled to the reference clock"),
      Metric("clock_step_ns", Stats.median(ops.map(_.stepNs).toSeq), "ns", ops.size, "detail",
        "clock probe before each op")) ++
      Stats.latency("op", okOps.map(_.ms), "detail", passS.size) ++
      Stats.latency("op_cpu", okOps.map(_.cpuMs), "detail", passS.size)
    val layer =
      if (!traced) Nil
      else {
        val overhead = Stats.median(tracedS.toSeq) - Stats.median(passS.toSeq)
        Seq(Metric("trace.overhead_s", overhead, "s", tracedS.size, "layer"),
          Metric("trace.spans", Trace.spans.size.toDouble / tracedS.size, "count",
            tracedS.size, "layer")) ++
          Trace.selfSeconds.toSeq.sortBy(_._1).map { case (l, v) =>
            Metric(s"trace.self_s.$l", v / tracedS.size, "s", tracedS.size, "layer") } ++
          sparkLayer(tracedS.toSeq) ++ wl.layers(tracedS.toSeq)
      }
    (e2e ++ common ++ wl.detail(ops.toSeq, passS.size) ++ layer).foreach(emit)
    if (traced) {
      val out = java.nio.file.Paths.get(tmp, "spans.json")
      java.nio.file.Files.write(out, Trace.spansJson.getBytes("UTF-8"))
    }
    println(s"""PB_RESULT {"attempted":$attempted,"failed":$failed}""")
    spark.stop()
  }
}

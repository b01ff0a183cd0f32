package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer's public functions,
  * plus Spark's own hooks (SparkListener, QueryExecutionListener with the
  * QueryExecution.tracker phases, StreamingQueryListener). Everything is
  * recorded only while [[on]] is set; an untraced pass pays one branch
  * per call. Ops run one at a time on the Spark driver thread, so the
  * span stack needs no synchronisation.
  */
object Trace {

  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startNs: Long, endNs: Long)

  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, System.nanoTime())
      }
    }

  /** Seconds per layer spent in its own spans, children excluded. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(_.layer).view.mapValues(_.map(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }

  def spansJson: String = spans.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[\n", ",\n", "\n]\n")

  /** Task and job totals from the SparkListener bus. */
  final class Counters {
    var jobs = 0L; var tasks = 0L; var taskNs = 0L; var gcMs = 0L
    var maxTaskMs = 0L; var inputBytes = 0L; var shuffleRead = 0L
    var shuffleWrite = 0L; var jobWallMs = 0L
    def copy(): Counters = {
      val c = new Counters
      c.jobs = jobs; c.tasks = tasks; c.taskNs = taskNs; c.gcMs = gcMs
      c.maxTaskMs = maxTaskMs; c.inputBytes = inputBytes
      c.shuffleRead = shuffleRead; c.shuffleWrite = shuffleWrite
      c.jobWallMs = jobWallMs
      c
    }
  }

  val spark = new Counters
  var planningMs = 0.0
  val batchMs = ArrayBuffer.empty[Double]
  var stateRows = 0L

  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      spark.jobs += 1
      jobStart.remove(e.jobId).foreach(t => spark.jobWallMs += e.time - t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      spark.tasks += 1
      if (m != null) {
        spark.taskNs += m.executorRunTime * 1000000L
        spark.gcMs += m.jvmGCTime
        spark.maxTaskMs = math.max(spark.maxTaskMs, m.executorRunTime)
        spark.inputBytes += m.inputMetrics.bytesRead
        spark.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spark.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private object Planning extends QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Trace.synchronized {
      planningMs += qe.tracker.phases.values.map(p => p.durationMs.toDouble).sum
    }
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.synchronized {
        val p = e.progress
        Option(p.durationMs.get("triggerExecution")).foreach(d => batchMs += d.toDouble)
        stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
  }

  /** Attaches (or detaches) every hook and flips [[on]]. */
  def attach(s: SparkSession, enable: Boolean): Unit = {
    if (enable && !on) {
      s.sparkContext.addSparkListener(Listener)
      s.listenerManager.register(Planning)
      s.streams.addListener(Streams)
    } else if (!enable && on) {
      drain(s)
      s.sparkContext.removeSparkListener(Listener)
      s.listenerManager.unregister(Planning)
      s.streams.removeListener(Streams)
    }
    on = enable
  }

  /** Waits until every event posted so far reached the hooks. */
  def drain(s: SparkSession): Unit = if (on) PerfBenchBus.drain(s.sparkContext)

  /** Counter snapshot after draining the bus. */
  def snapshot(s: SparkSession): Counters = {
    drain(s)
    Listener.synchronized(spark.copy())
  }
}

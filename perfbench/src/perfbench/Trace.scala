package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted inside one span: Spark jobs and tasks, task time, bytes
  * per channel, and the Catalyst planning time of the query executions
  * that finished inside it. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var scanBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var writtenBytes = 0L
  var planMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    scanBytes += o.scanBytes; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; resultBytes += o.resultBytes
    writtenBytes += o.writtenBytes; planMs += o.planMs
  }
}

/** One timed call into a layer. `self` holds the events that arrived
  * while this span was the innermost open one; `total` adds the
  * children's. */
final class Span(val name: String, val parent: Span) {
  val self = new Counters
  val children = mutable.ArrayBuffer[Span]()
  var startNs = 0L
  var endNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
  def total: Counters = {
    val c = new Counters
    c += self
    children.foreach(ch => c += ch.total)
    c
  }
}

/** Spans around the benchmark's calls into each layer, and the two
  * listeners that fill their counters. Off by default: with tracing off
  * `span` only runs its body, and no listener is attached. */
final class Tracer(spark: SparkSession) {
  @volatile private var current: Span = _
  private var on = false
  val roots = mutable.ArrayBuffer[Span]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = current
      if (s != null) s.self.jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = current
      val m = e.taskMetrics
      if (s != null && m != null) {
        val c = s.self
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        c.resultBytes += m.resultSize
        c.writtenBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val s = current
      if (s != null) s.self.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def enabled: Boolean = on

  def attach(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    on = true
  }

  def detach(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  private def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Times `body` as a child of the open span. Returns the span too, so
    * a caller can read what happened inside it. */
  def timed[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(name, current)
    if (on) drain()
    if (s.parent == null) roots += s else s.parent.children += s
    current = s
    s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      if (on) drain()
      current = s.parent
    }
  }

  def span[T](name: String)(body: => T): T = timed(name)(body)._1

  def clear(): Unit = roots.clear()

  /** All spans under the roots with the given name, at any depth. */
  def find(name: String): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    def walk(s: Span): Unit = {
      if (s.name == name) out += s
      s.children.foreach(walk)
    }
    roots.foreach(walk)
    out.toSeq
  }
}

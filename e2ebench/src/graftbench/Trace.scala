package graftbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed layer call: `parent` is the enclosing span's id (-1 at
  * top level), `req` the request or pass it belongs to. */
final case class Span(id: Int, name: String, parent: Int, req: Long,
    startNs: Long, endNs: Long)

/** Task-side totals for one span name, summed by the listener. */
final class LayerAgg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
  var peakExecMem = 0L; var spill = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  /** per stage id: task run times (ms) — for the skew of one stage */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Timing and attribution for one benchmark run.
  *
  * Every layer call goes through [[span]], which always returns the
  * call's wall time (the end-to-end metrics are built from it). With
  * tracing on, the span is also recorded in memory (name, start, end,
  * parent, request id), its name is set as a Spark job-local property
  * so the listener can bill stages, tasks, shuffle and spill to it,
  * and planner phase times are collected from every action's
  * `QueryExecution.tracker`. With tracing off nothing is attached to
  * the session: no listener, no local properties, no log appender.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val PropKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  val layers = new ConcurrentHashMap[String, LayerAgg]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val tasksSeen = new AtomicLong(0)
  /** planner phase totals (ms) by phase name, over every action */
  val phaseMs = new ConcurrentHashMap[String, AtomicLong]()

  private def agg(name: String): LayerAgg =
    layers.computeIfAbsent(name, _ => new LayerAgg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val name = Option(e.properties).map(_.getProperty(PropKey)).orNull
      if (name != null) agg(name).synchronized { agg(name).jobs += 1 }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val name = Option(e.properties).map(_.getProperty(PropKey)).orNull
      if (name != null) {
        stageSpan.put(e.stageInfo.stageId, name)
        agg(name).synchronized { agg(name).stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasksSeen.incrementAndGet()
      val name = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (name != null && m != null) {
        val a = agg(name)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          val info = e.taskInfo
          a.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
          a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phaseMs.computeIfAbsent(phase, _ => new AtomicLong(0)).addAndGet(s.durationMs)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** True while the listeners are attached and spans are recorded. */
  private var on = false

  /** Attach the listeners and start recording (traced runs, measured
    * operations only). */
  def attach(): Unit = if (enabled && !on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Drain pending listener events, then detach: the next operation
    * runs exactly as in an untraced run. */
  def detach(): Unit = if (on) {
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Run `f` as layer call `name`; returns its result and wall seconds. */
  def span[A](name: String, req: Long = -1L)(f: => A): (A, Double) = {
    if (!on) {
      val t0 = System.nanoTime()
      val r = f
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, name)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(PropKey, outer)
      spans += Span(id, name, parent, req, t0, t1)
    }
  }

  /** Barrier: run a one-task job and wait until the listener has seen
    * its task end — every earlier event on the shared bus queue has
    * been delivered by then (bounded at 5 s). */
  def settle(): Unit = if (on) {
    val before = tasksSeen.get()
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 5000000000L
    while (tasksSeen.get() <= before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Wall seconds summed over recorded spans named `name`. */
  def busyS(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def layer(name: String): LayerAgg = layers.getOrDefault(name, new LayerAgg)

  /** Listener totals over every span. */
  def total: LayerAgg = {
    val t = new LayerAgg
    layers.values.asScala.foreach { a =>
      a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
        t.delayMs += a.delayMs; t.peakExecMem = math.max(t.peakExecMem, a.peakExecMem)
        t.spill += a.spill; t.shuffleWrite += a.shuffleWrite
        t.shuffleRead += a.shuffleRead; t.fetchWaitMs += a.fetchWaitMs
      }
    }
    t
  }

  /** Spans as JSON lines, for the trace file. */
  def spanJson: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

/** Counts log events whose message contains `needle`, through a
  * log4j2 appender attached to the root logger (traced runs only). */
final class LogCounter(needle: String) {
  import org.apache.logging.log4j.LogManager
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  val count = new AtomicLong(0)
  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val appender = new AbstractAppender("graftbench-counter", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage != null && e.getMessage.getFormattedMessage.contains(needle))
        count.incrementAndGet()
  }
  appender.start()
  ctx.getConfiguration.addAppender(appender)
  ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
  ctx.updateLoggers()

  def close(): Unit = {
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }
}

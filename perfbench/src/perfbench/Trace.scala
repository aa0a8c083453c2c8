package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer's public function. The layer is the name's
  * first dot-separated part (`cmf.fit_explicit` is in layer `cmf`). */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  /** JVM and codegen counters: read at start, replaced by the delta at end. */
  var counters: Array[Long] = Array.empty
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark work attributed to one span (all counters summed over its jobs). */
final class Work {
  var jobs, stages, tasks, emptyTasks = 0L
  var runMs, cpuNs, schedDelayMs, shuffleWriteBytes, shuffleRecords = 0L
  var fetchWaitMs, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; emptyTasks += o.emptyTasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleRecords += o.shuffleRecords
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/** Process-wide counters read at span boundaries: JIT ms, GC ms, codegen
  * compiles, codegen compile µs. */
object Counters {
  val Names: Seq[String] = Seq("jit_ms", "gc_ms", "codegen_compiles", "codegen_us")

  private val compileUs = new AtomicLong
  private val CodegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  /** Spark records compile time only as a sampled histogram; the exact
    * per-compile figure is in CodeGenerator's INFO line, so a private
    * appender sums it (nothing is printed). */
  def installCodegenTimer(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Generated(ms) => compileUs.addAndGet((ms.toDouble * 1000).toLong)
          case _ =>
        }
    }
    app.start()
    val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
  }

  def read(): Array[Long] = Array(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    compileUs.get)
}

/** Spans around every call the benchmark makes into a layer. With `on`,
  * each span also tags the Spark jobs it triggers (local property
  * [[Tracer.SpanProp]]), and listeners collect stage/task metrics and
  * Catalyst phase times per span. With tracing off only the start and end
  * times are kept, which is what the end-to-end metrics need. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext
  private val exec = new ExecListener
  private val phases = mutable.ArrayBuffer.empty[(Long, String, Long)]

  if (on) {
    Counters.installCodegenTimer()
    sc.addSparkListener(exec)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = phases.synchronized {
    qe.tracker.phases.foreach { case (p, s) => phases += ((s.startTimeMs, p, s.durationMs)) }
  }

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    if (on) {
      s.counters = Counters.read()
      sc.setLocalProperty(SpanProp, s.id.toString)
    }
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (on) {
        s.counters = Counters.read().zip(s.counters).map { case (a, b) => a - b }
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }
  }

  /** Wall ms of every finished span with this name, in call order. */
  def times(name: String): Seq[Double] = spans.toSeq.filter(_.name == name).map(_.ms)

  /** Per-span self work (jobs attach to the innermost open span; Catalyst
    * phases to the innermost span open when the phase started). Call once,
    * after the run, when no job is in flight. */
  def work(): Map[Int, Work] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val w = exec.snapshot()
    def at(id: Int) = w.getOrElseUpdate(id, new Work)
    phases.synchronized(phases.toList).foreach { case (t, p, ms) =>
      val owner = spans.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => (-s.startNs, -s.id)).headOption.fold(-1)(_.id)
      val o = at(owner)
      p match {
        case "analysis" => o.analysisMs += ms
        case "optimization" => o.optimizationMs += ms
        case "planning" => o.planningMs += ms
        case _ =>
      }
    }
    w.toMap
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Stage and task metrics per span. Runs on the listener-bus thread; read
  * through [[snapshot]] after the bus drains. */
final class ExecListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp))).fold(-1)(_.toInt)
  private def at(span: Int) = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    at(s).jobs += 1
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSpan.getOrElseUpdate(id, spanOf(e.properties))
    e.stageInfo.submissionTime.foreach(t => stageSubmit(id) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = at(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    stageSubmit.get(e.stageId).foreach(t => w.schedDelayMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) w.emptyTasks += 1
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): mutable.HashMap[Int, Work] = synchronized {
    val out = mutable.HashMap.empty[Int, Work]
    bySpan.foreach { case (k, v) => val c = new Work; c.add(v); out(k) = c }
    out
  }
}

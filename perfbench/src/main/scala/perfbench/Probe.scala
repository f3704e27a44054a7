package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in counters for the traced run: one SparkListener and one
  * QueryExecutionListener, attached from the harness (the product registers
  * none). `snapshot()` drains the listener bus and returns cumulative
  * totals, so the difference of two snapshots is exactly what ran between
  * two call boundaries on the single caller thread (Par branches included).
  * `fact_scans` counts executed file scans whose root path contains
  * `factTable`. Codegen compiles and their time are read from the code
  * generator's own per-compile log line ("Code generated in N ms"), which
  * it writes at INFO on every cache miss, from any thread.
  */
final class Probe(spark: SparkSession, factTable: String) {
  private val keys = Seq("jobs", "stages", "tasks", "task_run_s", "sched_delay_s",
    "shuffle_bytes", "spill_bytes", "input_bytes", "output_bytes", "planning_s", "fact_scans",
    "codegen_compiles", "codegen_compile_s")
  private val acc: Map[String, DoubleAdder] = keys.map(_ -> new DoubleAdder).toMap
  private def add(k: String, v: Double): Unit = acc(k).add(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        add("task_run_s", m.executorRunTime / 1e3)
        // the Spark UI's scheduler delay: task duration not spent running,
        // deserializing, serializing the result or fetching it
        val fetchMs =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delayMs = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetchMs
        add("sched_delay_s", math.max(0L, delayMs) / 1e3)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", m.diskBytesSpilled.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      add("planning_s", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1e3)
      add("fact_scans", Probe.scannedPaths(qe.executedPlan).count(_.contains(factTable)))
    }
  }

  private val compileLog = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    private val line = raw"Code generated in ([0-9.]+) ms".r
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case line(ms) => add("codegen_compiles", 1); add("codegen_compile_s", ms.toDouble / 1e3)
      case _ =>
    }
  }
  private val codegenLogger = LogManager.getLogger(Probe.CodeGeneratorLogger).asInstanceOf[Logger]
  private var codegenLevel: Level = _
  private var codegenAdditive = true

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegenLevel = codegenLogger.getLevel
    codegenAdditive = codegenLogger.isAdditive
    compileLog.start()
    codegenLogger.addAppender(compileLog)
    codegenLogger.setAdditive(false) // counted here, not printed
    codegenLogger.setLevel(Level.INFO)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    codegenLogger.setLevel(codegenLevel)
    codegenLogger.setAdditive(codegenAdditive)
    codegenLogger.removeAppender(compileLog)
    compileLog.stop()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Cumulative totals after draining the listener bus. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    acc.map { case (k, v) => k -> v.sum() } + ("gc_s" -> gcSeconds())
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  val CodeGeneratorLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Root paths of every file scan in an executed plan, adaptive query
    * stages and subqueries included.
    */
  def scannedPaths(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s.relation.location.rootPaths }
      .flatten.map(_.toString)
}

/** One traced call: name, parent span, wall-clock bounds, the probe
  * counters it accumulated (end snapshot minus start snapshot) and the time
  * the tracer itself spent inside it (its descendants' snapshots).
  */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
    tracer_s: Double, counters: Map[String, Double])

/** Records nested spans around public calls. Only the harness thread opens
  * spans; counters are taken at the same boundaries as the clock.
  */
final class Tracer(probe: Probe, clock: () => Double) {
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var spent = 0.0 // seconds spent taking snapshots so far

  private def snapshot(): Map[String, Double] = {
    val t0 = System.nanoTime()
    try probe.snapshot() finally spent += (System.nanoTime() - t0) / 1e9
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = snapshot()
    val spent0 = spent
    val t0 = clock()
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      val t1 = clock()
      val own = spent - spent0
      val after = snapshot()
      done += Span(id, parent, name, t0, t1, own,
        after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

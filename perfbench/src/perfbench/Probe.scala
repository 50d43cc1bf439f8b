package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine and planner counters of one phase. Job, stage, task and record
  * counts repeat exactly for the same input; times are summed over tasks
  * (`*Ms`, `cpuNs`) or over query executions (`plan*`).
  */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L
  var shuffleWriteRecords, shuffleReadRecords = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var queries = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var codegenNs, compilations = 0L
  /** Nanoseconds the listener callbacks themselves spent. */
  var listenerNs = 0L

  def +=(o: Counters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    shuffleWriteRecords += o.shuffleWriteRecords; shuffleReadRecords += o.shuffleReadRecords
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
    queries += o.queries; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    codegenNs += o.codegenNs; compilations += o.compilations; listenerNs += o.listenerNs
    this
  }

  /** The engine and planning metrics, under their per-layer names. */
  def metrics: Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble, "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
    "spark.shuffle_write_records" -> shuffleWriteRecords.toDouble,
    "spark.shuffle_read_records" -> shuffleReadRecords.toDouble, "spark.spill_bytes" -> spill.toDouble,
    "spark.input_bytes" -> inputBytes.toDouble, "spark.output_bytes" -> outputBytes.toDouble,
    "spark.task_failures" -> taskFailures.toDouble,
    "spark.task_cpu_s" -> cpuNs / 1e9, "spark.task_run_s" -> runMs / 1e3,
    "spark.gc_s" -> gcMs / 1e3, "spark.task_wait_s" -> waitMs / 1e3,
    "plan.queries" -> queries.toDouble,
    "plan.analysis_ms" -> analysisMs.toDouble, "plan.optimization_ms" -> optimizationMs.toDouble,
    "plan.planning_ms" -> planningMs.toDouble, "codegen.compile_ms" -> codegenNs / 1e6,
    "codegen.compilations" -> compilations.toDouble)

  def planAndCodegenMs: Double =
    analysisMs + optimizationMs + planningMs + codegenNs / 1e6
}

/** A timed call into one layer. `parent` is the id of the enclosing span
  * (0 at the top); `run` identifies the unit of work the span belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, run: Int, startNs: Long, endNs: Long)

/** The benchmark's own instrumentation: a [[SparkListener]] and a
  * [[QueryExecutionListener]] that charge every job, stage, task and
  * planned query to the current phase, plus in-memory spans around the
  * benchmark's calls into the program. Nothing here runs inside the
  * program; it only observes Spark's public listener events.
  *
  * Phases are sequential. [[phase]] drains the listener bus before it
  * switches, so every event lands in the phase that caused it.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  private val byPhase = mutable.LinkedHashMap.empty[String, Counters]
  private val stageSubmitMs = mutable.HashMap.empty[(Int, Int), Long]
  @volatile private var current = "idle"
  private var attached = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextSpan = 1
  var run = 0

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  private def counters: Counters = byPhase.getOrElseUpdate(current, new Counters)

  /** Run `body` as phase `name`; its counters are added to that phase. */
  def phase[T](name: String)(body: => T): T = {
    drain()
    val prev = current
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    current = name
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try span(name)(body)
    finally {
      drain()
      byPhase.synchronized {
        val c = counters
        c.codegenNs += CodeGenerator.compileTime - cg0
        c.compilations += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      }
      sc.clearJobGroup()
      current = prev
    }
  }

  /** Record a span around `body`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, run, t0, System.nanoTime())
      open.pop()
    }
  }

  def spanCount: Int = spans.size

  /** Counters of every phase whose name satisfies `p`, summed. */
  def total(p: String => Boolean): Counters = byPhase.synchronized {
    val sum = new Counters
    byPhase.foreach { case (k, c) => if (p(k)) sum += c }
    sum
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"run":${s.run},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def timed(body: Counters => Unit): Unit = {
    val t0 = System.nanoTime()
    byPhase.synchronized {
      val c = counters
      body(c)
      c.listenerNs += System.nanoTime() - t0
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(_.jobs += 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed { _ =>
    val si = e.stageInfo
    stageSubmitMs((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed { c =>
    c.stages += 1
    stageSubmitMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed { c =>
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { s =>
      c.waitMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed { c =>
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      c.queries += 1
      c.analysisMs += ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS)
      c.optimizationMs += ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION)
      c.planningMs += ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Main, Pipeline}
import graft.etl.{Cleaning, Features, Normalization}

/** `secpipe_batch`: the paper's CLI path, `Pipeline.run` on a seeded dirty
  * CSV with the CLI defaults plus `--summary`. One cold run, then warm
  * runs for the measured window. Warm runs keep getting faster for minutes
  * as the JIT compiles more of Spark; starting the window right after the
  * cold run puts every run's window at the same point of that curve. Every run
  * writes its own output directory; the launcher checks each one against
  * the counts the generator derived.
  */
object SecPipe {

  /** The layer function that issued a job, read from the job's call site. */
  private def phaseOf(callSite: String): String = {
    val frame = callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")
    if (frame.startsWith("graft.Pipeline$.readRaw")) "read"
    else if (frame.startsWith("graft.etl.Validation$")) "validate"
    else if (frame.startsWith("graft.Summary$")) "summary"
    else if (frame.startsWith("graft.Pipeline$.run")) "write"
    else "other"
  }

  /** Jobs of one `Pipeline.run`, each with its phase and end time. A job
    * that adaptive execution submits from its own threads carries no call
    * site of the program; it takes the phase of the SQL execution it
    * belongs to, whose call site the execution-start event records.
    */
  private final class JobLog extends SparkListener {
    private val executions = mutable.HashMap.empty[Long, String]
    private val jobs = mutable.HashMap.empty[Int, String]
    private val stages = mutable.HashMap.empty[Int, String]
    val ends = mutable.ArrayBuffer.empty[(String, Long)]
    val tasks = mutable.HashMap.empty[String, Int]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        executions(s.executionId) = phaseOf(s.details)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val own = phaseOf(site)
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val execution = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
        .flatMap(id => executions.get(id.toLong))
      val phase = if (own != "other") own else execution.getOrElse(own)
      jobs(e.jobId) = phase
      e.stageIds.foreach(stages(_) = phase)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get(e.stageId).foreach(p => tasks(p) = tasks.getOrElse(p, 0) + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(p => ends += ((p, e.time)))
    }
    def clear(): Unit = synchronized { jobs.clear(); stages.clear(); ends.clear(); tasks.clear() }
  }

  private val phases = Seq("read", "validate", "write", "summary")

  /** Where the program's own progress lines go while it is measured. */
  private val quiet = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

  def run(spark: SparkSession, work: Path, seconds: Int, trace: Boolean): Outcome = {
    val input = work.resolve("input/raw_events.csv").toString
    val rows = Launch.meta(work)("rows").toDouble
    var attempted, failed = 0L
    var k = 0

    def once(): Option[Cost] = {
      val cfg = Main.parseArgs(Array("--input", input,
        "--output", work.resolve(f"out/run-$k%03d").toString, "--summary"))
      k += 1
      attempted += 1
      try {
        val c = Cost.of(Console.withOut(quiet)(Pipeline.run(spark, cfg)))
        System.err.println(f"[perfbench] Pipeline.run $k%d: ${c.wallS}%.3f s, ${c.cpuS}%.3f cpu-s")
        Some(c)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] Pipeline.run failed: $e")
          failed += 1
          None
      }
    }

    val cold = once().getOrElse(Cost(Double.NaN, Double.NaN))

    val probe = new Probe(spark)
    val jobLog = new JobLog
    val plain = mutable.ArrayBuffer.empty[Cost]
    val traced = mutable.ArrayBuffer.empty[Double]
    val phaseSec = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val phaseJobs = mutable.HashMap.empty[String, Int]
    val phaseTasks = mutable.HashMap.empty[String, Int]
    val windowStart = System.nanoTime()
    var i = 0
    // The traced run alternates runs with and without the listeners; the
    // median ratio is the tracing overhead.
    // At least two warm runs: a window that held one or two would make
    // the median jump between the first and the mean of the first two.
    while (Stats.secondsSince(windowStart) < seconds || plain.size < 2 || (trace && traced.isEmpty)) {
      val on = trace && i % 2 == 1
      i += 1
      if (on) {
        probe.attach(); spark.sparkContext.addSparkListener(jobLog); jobLog.clear()
        probe.run = k
        val startMs = System.currentTimeMillis()
        probe.phase("Pipeline.run")(once()).foreach { t =>
          traced += t.wallS
          probe.drain()
          val endMs = System.currentTimeMillis()
          val ends = jobLog.synchronized(jobLog.ends.toList)
          var prevEnd = startMs
          phases.foreach { p =>
            val mine = ends.filter(_._1 == p)
            phaseJobs(p) = mine.size
            phaseTasks(p) = jobLog.synchronized(jobLog.tasks.getOrElse(p, 0))
            val end = if (p == "summary") endMs else (prevEnd +: mine.map(_._2)).max
            phaseSec.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += (end - prevEnd) / 1e3
            prevEnd = end
          }
        }
        spark.sparkContext.removeSparkListener(jobLog)
        probe.detach()
      } else once().foreach(plain += _)
    }
    val warm = Stats.median(plain.map(_.wallS).toSeq)
    java.nio.file.Files.writeString(work.resolve("out/runs.txt"), k.toString)

    val e2e = Seq("cold_s" -> cold.wallS, "warm_s" -> warm,
      "cold_cpu_s" -> cold.cpuS, "warm_cpu_s" -> Stats.median(plain.map(_.cpuS).toSeq))
    val runs = Seq("pipeline.warm_runs" -> plain.size.toDouble, "pipeline.rows_per_s" -> rows / warm)
    if (!trace) Outcome(e2e, Nil, runs, attempted, failed)
    else {
      val c = probe.total(_ == "Pipeline.run")
      val n = traced.size.toDouble
      val per = c.metrics.map { case (name, v) => name -> v / n }
      val tracedWarm = Stats.median(traced.toSeq)
      val stages = etlStages(spark, input, probe)
      // The streaming twins of the same etl functions, on a short open loop
      // over events from the same generator (see SocStream).
      spark.conf.set("spark.sql.shuffle.partitions", Sessions.cores.toString)
      val stream = probe.span("soc_stream")(SocStream.run(spark, work.resolve("stream"), seconds))
      attempted += stream.attempted
      failed += stream.failed
      val layers = per ++ Seq(
        "plan.share" -> c.planAndCodegenMs / 1e3 / traced.sum,
        "trace.overhead_frac" -> (tracedWarm / warm - 1.0),
        "trace.listener_ms" -> c.listenerNs / 1e6 / n)
      val detail = runs ++ phases.flatMap { p =>
        Seq(s"pipeline.${p}_s" -> Stats.median(phaseSec.getOrElse(p, mutable.ArrayBuffer.empty).toSeq),
          s"pipeline.${p}_jobs" -> phaseJobs.getOrElse(p, 0).toDouble,
          s"pipeline.${p}_tasks" -> phaseTasks.getOrElse(p, 0).toDouble)
      } ++ stages ++ stream.detail :+ ("trace.spans" -> probe.spanCount.toDouble)
      probe.writeSpans(work.resolve("spans.jsonl"))
      Outcome(e2e, layers, detail, attempted, failed, stream.notes)
    }
  }

  /** Time each etl stage on a materialized copy of the previous stage's
    * output: the stage's work is a `noop` write of its result.
    */
  private def etlStages(spark: SparkSession, input: String, probe: Probe): Seq[(String, Double)] = {
    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "missing" -> (d => Cleaning.handleMissingValues(Cleaning.validateRequiredColumns(d))),
      "dedup" -> Cleaning.removeDuplicates,
      "timestamps" -> (d => Normalization.standardizeTimestamps(d)),
      "categoricals" -> Normalization.normalizeCategoricals,
      "features" -> (d => Features.runAll(d, 30)))
    probe.attach()
    probe.run += 1
    var prev = probe.span("Pipeline.readRaw")(Pipeline.readRaw(spark, input)).cache()
    var prevRows = prev.count().toDouble
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    stages.foreach { case (name, f) =>
      val t0 = System.nanoTime()
      probe.phase(s"etl.$name") {
        Console.withOut(quiet)(f(prev).write.format("noop").mode("overwrite").save())
      }
      out += s"etl.${name}_s" -> Stats.secondsSince(t0)
      val next = f(prev).cache()
      val rows = next.count().toDouble
      if (name == "dedup") out += "etl.dedup.kept_frac" -> rows / prevRows
      if (name == "timestamps") out += "etl.timestamps.parsed_frac" -> rows / prevRows
      prev.unpersist()
      prev = next
      prevRows = rows
    }
    prev.unpersist()
    probe.detach()
    out.toSeq
  }
}

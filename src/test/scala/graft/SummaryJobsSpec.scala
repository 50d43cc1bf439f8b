package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Guards the number of Spark jobs one `Pipeline.run` issues per phase on
  * the golden input. Job counts repeat exactly for a fixed input and
  * session, so the spec asserts them exactly where the design fixes them.
  */
class SummaryJobsSpec extends SparkSpec {

  /** The phase a call site belongs to: its innermost program frame. */
  private def phaseOf(callSite: String): String = {
    val frame = callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")
    if (frame.startsWith("graft.Pipeline$.readRaw")) "read"
    else if (frame.startsWith("graft.etl.Validation$")) "validate"
    else if (frame.startsWith("graft.Summary$")) "summary"
    else if (frame.startsWith("graft.Pipeline$.run")) "write"
    else "other"
  }

  /** Counts jobs per phase. A job that adaptive execution submits from its
    * own threads takes the phase of the SQL execution it belongs to.
    */
  private final class PhaseJobs extends SparkListener {
    private val executions = mutable.HashMap.empty[Long, String]
    val jobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions(s.executionId) = phaseOf(s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val own = phaseOf(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse(""))
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val execution = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
        .flatMap(id => executions.get(id.toLong))
      val phase = if (own != "other") own else execution.getOrElse(own)
      jobs(phase) += 1
    }
  }

  private def jobsOf(summary: Boolean, validate: String = "strict"): Map[String, Int] = {
    val config = PipelineConfig(
      input = getClass.getResource("/raw_events.csv").getPath,
      output = Files.createTempDirectory("graft-summary-jobs").toString + "/out",
      sessionGapMinutes = 60, dropUnknownSeverity = true,
      validateMode = validate, summary = summary)
    val sc = spark.sparkContext
    val log = new PhaseJobs
    ListenerBus.drain(sc)
    sc.addSparkListener(log)
    try {
      Console.withOut(java.io.OutputStream.nullOutputStream())(Pipeline.run(spark, config))
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(log)
    log.jobs.toMap
  }

  test("the summary adds one query of three jobs and leaves the write at one job") {
    val plain = jobsOf(summary = false)
    val summarized = jobsOf(summary = true)
    assert(plain === Map("read" -> 2, "validate" -> 7, "write" -> 1), plain)
    assert(summarized.removed("summary") === plain, summarized)
    // two shuffle map stages and the result stage of one query (5 allowed)
    assert(summarized("summary") === 3, summarized)
  }

  test("with validation off the summary adds the same jobs") {
    val plain = jobsOf(summary = false, validate = "off")
    val summarized = jobsOf(summary = true, validate = "off")
    assert(summarized.removed("summary") === plain, summarized)
    assert(summarized("summary") === 3, summarized)
  }
}

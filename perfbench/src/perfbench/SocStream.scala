package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.etl.Features
import graft.streaming.StreamingPipeline

/** One raw event as the CSV carries it; every field but the id is text. */
final case class RawEvent(event_id: Long, timestamp: String, user_id: String,
    event_type: String, status: String, severity: String, source_ip: String)

/** `soc_stream`: an open loop. One generator appends seeded dirty events
  * on a fixed schedule; two queries read them, `cleanStream ->
  * sessionIdsStream` and `cleanStream -> dedupStream`, each with a
  * processing-time trigger. The schedule holds the reference rate
  * for the first half of the window, then climbs a ladder of higher rates
  * in rungs of fixed length.
  *
  * Each chunk the generator appends is one `MemoryStream` offset, so the
  * progress of every trigger says which chunks it committed. An event's
  * latency is the commit time of its trigger minus the time its chunk was
  * due, which charges a stall to every event waiting behind it.
  */
object SocStream {

  private final case class Chunk(index: Int, dueMs: Long, rung: Int, rows: Array[RawEvent])

  private final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(name: String): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.name == name).toSeq.sortBy(_.batchId)
  }

  private def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

  private def offset(json: String): Int =
    if (json == null || json == "null") -1 else json.trim.toInt

  def run(spark: SparkSession, work: Path, seconds: Int): Outcome = {
    import spark.implicits._
    val meta = Launch.meta(work)
    val triggerMs = meta("trigger_ms").toLong
    val lines = Files.readAllLines(work.resolve("input/stream.tsv")).asScala.toSeq
    // columns: chunk, late, event_id, timestamp, user_id, event_type, status, severity, source_ip
    val parsed = lines.map(_.split("\t", -1))
    def field(s: String): String = if (s.isEmpty) null else s
    val events = parsed.map(f => RawEvent(f(2).toLong, field(f(3)), field(f(4)),
      field(f(5)), field(f(6)), field(f(7)), field(f(8))))
    val schedule = Files.readAllLines(work.resolve("input/chunks.tsv")).asScala.toSeq
      .map(_.split("\t")).map(f => (f(0).toInt, f(1).toLong, f(2).toInt))
    val byChunk = parsed.map(_(0).toInt).zip(events).groupBy(_._1)
    val chunks = schedule.map { case (i, due, rung) =>
      Chunk(i, due, rung, byChunk.getOrElse(i, Nil).map(_._2).toArray)
    }

    val progress = new Progress
    spark.streams.addListener(progress)
    // One MemoryStream per query, fed the same chunks at the same time: a
    // MemoryStream drops every batch a query commits, so a second query
    // reading it would miss what the first had already committed.
    val sources = Seq.fill(2)(MemoryStream[RawEvent](spark))
    def append(rows: Array[RawEvent]): Unit = sources.foreach(_.addData(rows.toSeq))
    def clean(i: Int): DataFrame = StreamingPipeline.cleanStream(sources(i).toDF())
    val ckpt = work.resolve("checkpoints")
    var queries = Seq.empty[StreamingQuery]
    def committed(name: String): Int =
      progress.of(name).map(p => offset(p.sources.head.endOffset)).foldLeft(-1)(math.max)
    def start(name: String, df: DataFrame): StreamingQuery =
      df.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt.resolve(name).toString)
        .trigger(Trigger.ProcessingTime(triggerMs)).start()

    // Cold: start both queries, feed chunk 0, wait for both to commit it.
    val coldCost = Cost.of {
      queries = Seq(
        start("sessions", StreamingPipeline.sessionIdsStream(spark, clean(0)).toDF()),
        start("dedup", StreamingPipeline.dedupStream(clean(1))))
      append(chunks.head.rows)
      while (queries.exists(q => committed(q.name) < 0)) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(5)
      }
    }

    // The open loop: chunk i is appended at its due time, however late
    // the engine runs.
    val refEndMs = meta("ref_end_ms").toLong
    val windowStartMs = meta("window_start_ms").toLong
    val epoch0 = System.currentTimeMillis()
    var lateMs = 0L
    var refCpu = 0.0
    chunks.tail.foreach { c =>
      val now = System.currentTimeMillis() - epoch0
      if (now < c.dueMs) Thread.sleep(c.dueMs - now)
      if (c.dueMs == windowStartMs) refCpu = -Stats.processCpuS
      if (c.dueMs == refEndMs) refCpu += Stats.processCpuS
      append(c.rows)
      lateMs = math.max(lateMs, System.currentTimeMillis() - epoch0 - c.dueMs)
    }
    val backlog = queries.map { q =>
      val c = committed(q.name)
      chunks.filter(_.index > c).map(_.rows.length.toLong).sum
    }.max
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
    spark.streams.removeListener(progress)
    Files.write(work.resolve("progress.jsonl"), progress.events.asScala.toSeq
      .sortBy(p => (p.name, p.batchId)).map(_.json.replace("\n", " ")).asJava)

    val dueEpoch = chunks.map(c => c.index -> (epoch0 + c.dueMs)).toMap
    val chunkRows = chunks.map(c => c.index -> c.rows.length.toLong).toMap
    val chunkRung = chunks.map(c => c.index -> c.rung).toMap
    val ps = queries.map(q => q.name -> progress.of(q.name)).toMap
    // Latency samples of the reference phase, one per (query, chunk).
    val samples = for {
      (_, qp) <- ps.toSeq
      p <- qp
      s = offset(p.sources.head.startOffset)
      e = offset(p.sources.head.endOffset)
      i <- (s + 1) to e
      if chunkRung.get(i).contains(0) && dueEpoch(i) - epoch0 >= windowStartMs
    } yield ((commitMs(p) - dueEpoch(i)) / 1e3, chunkRows(i))
    val p50 = Stats.weightedQuantile(samples.map(_._1), samples.map(_._2), 0.5)
    val p99 = Stats.weightedQuantile(samples.map(_._1), samples.map(_._2), 0.99)

    def triggerMsOf(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).toDouble
    val ladderStart = epoch0 + refEndMs
    // Capacity: rows each query processed per second of trigger time on the
    // ladder; the slower query bounds what the stream sustains.
    val capacity = ps.values.map { qp =>
      val lad = qp.filter(p => Instant.parse(p.timestamp).toEpochMilli >= ladderStart && p.numInputRows > 0)
      lad.map(_.numInputRows).sum / (lad.map(triggerMsOf(_, "triggerExecution")).sum / 1e3)
    }.min

    // Sustained rate. A query's committed backlog at a commit is the rows
    // appended by then that no committed trigger has taken. A rung (the
    // reference phase is rung 0) is sustained when, for both queries, the
    // backlog at the commits of the triggers that ran wholly inside it
    // does not grow: its least-squares rise across those commits is at most
    // half its median. A query that falls behind multiplies its backlog at
    // every trigger; one that keeps up still saw it rise by up to about 40%
    // within a rung on a shared 4-core guest whose cores change speed by
    // 20% within seconds. Fewer than two such commits cannot show either.
    // The sustained rate is the highest rung rate up to which every rung is
    // sustained.
    val rowsUpTo = chunks.scanLeft(0L)(_ + _.rows.length).tail
    def appendedBy(epochMs: Long): Long =
      chunks.zip(rowsUpTo).takeWhile(_._1.dueMs + epoch0 <= epochMs).lastOption.map(_._2).getOrElse(0L)
    def committedRows(p: StreamingQueryProgress): Long =
      rowsUpTo.lift(offset(p.sources.head.endOffset)).getOrElse(0L)
    val rungIds = chunks.map(_.rung).distinct.sorted
    val growth = rungIds.map { r =>
      val from = epoch0 + meta(s"rung${r}_start_ms").toLong
      val to = epoch0 + meta(s"rung${r}_end_ms").toLong
      r -> ps.values.map { qp =>
        val inside = qp.filter(p => p.numInputRows > 0 &&
          dueEpoch.get(offset(p.sources.head.startOffset) + 1).exists(_ >= from) && commitMs(p) <= to)
        val pts = inside.map(p => (commitMs(p) / 1e3, (appendedBy(commitMs(p)) - committedRows(p)).toDouble))
        if (pts.size < 2) Double.PositiveInfinity
        else {
          val (mt, mb) = (pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size)
          val slope = pts.map { case (t, b) => (t - mt) * (b - mb) }.sum /
            pts.map { case (t, _) => (t - mt) * (t - mt) }.sum
          slope * (pts.last._1 - pts.head._1) / Stats.median(pts.map(_._2)).max(1.0)
        }
      }.max
    }
    val sustained = growth.takeWhile(_._2 <= 0.5).lastOption
      .map { case (r, _) => meta(s"rung${r}_rate").toDouble }.getOrElse(0.0)
    val refRate = meta("rung0_rate").toDouble

    val all = ps.values.flatten.toSeq
    val withData = all.filter(_.numInputRows > 0)
    def med(k: String): Double = Stats.median(withData.map(triggerMsOf(_, k)))
    val lastState = ps.values.flatMap(_.lastOption).toSeq
    val refSeconds = (refEndMs - windowStartMs) / 1e3
    val detail = Seq(
      "streaming.cold_s" -> coldCost.wallS,
      "streaming.cpu_per_s" -> refCpu / refSeconds,
      "streaming.latency_p50_s" -> p50,
      "streaming.latency_p99_s" -> p99,
      "streaming.latency_samples" -> samples.size.toDouble,
      "streaming.sustained_rows_per_s" -> sustained,
      "streaming.ref_rate_rows_per_s" -> refRate,
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.commit_ms" -> Stats.median(withData.map(p =>
        triggerMsOf(p, "walCommit") + triggerMsOf(p, "commitOffsets"))),
      "streaming.state_rows" -> lastState.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
      "streaming.state_bytes" -> lastState.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble,
      "streaming.state_commit_ms" -> Stats.median(withData.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.rows_dropped_by_watermark" ->
        all.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble,
      "streaming.backlog_rows" -> backlog.toDouble,
      "streaming.generator_late_s" -> lateMs / 1e3,
      "streaming.triggers" -> withData.size.toDouble,
      "streaming.capacity_rows_per_s" -> capacity) ++
      growth.map { case (r, g) => s"streaming.rung$r.backlog_growth_frac" -> g }

    // Checks, after the window.
    val lateIds = parsed.filter(_(1) == "1").map(_(2).toLong).toSet
    val disordered = meta("disordered_users").split(",").filter(_.nonEmpty).toSeq
    val batchIn = events.filterNot(e => lateIds.contains(e.event_id))
    val expected = Features.addSessionFeatures(
        StreamingPipeline.cleanStream(batchIn.toDF()), 30)
      .filter(!col("user_id").isin(disordered: _*))
      .select("event_id", "user_id", "session_id").cache()
    val got = spark.table("sessions").filter(!col("user_id").isin(disordered: _*))
      .select("event_id", "user_id", "session_id")
    val sessionMismatch = expected.exceptAll(got).count() + got.exceptAll(expected).count()
    val compared = expected.count()
    expected.unpersist()
    val dedupRows = spark.table("dedup").count()
    val dedupMismatch = math.abs(dedupRows - meta("expect_dedup_rows").toLong)
    if (dedupMismatch > 0)
      Files.write(work.resolve("dedup_ids.txt"), spark.table("dedup").select("event_id")
        .collect().map(_.getLong(0).toString).sorted.mkString("\n").getBytes("UTF-8"))
    val notes = Seq(
      s"sessions compared: $compared rows, mismatched: $sessionMismatch",
      s"dedup rows: $dedupRows, expected: ${meta("expect_dedup_rows")}",
      if (sustained >= refRate) s"reference rate $refRate rows/s is sustained (up to $sustained rows/s)"
      else s"reference rate $refRate rows/s is NOT sustained: the latency figures include a growing queue")

    Outcome(Nil, Nil, detail, events.size.toLong, sessionMismatch + dedupMismatch, notes)
  }
}

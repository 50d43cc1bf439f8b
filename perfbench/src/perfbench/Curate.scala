package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `curate_mix`: one client runs fixed-order serial passes over a mix of
  * the LLM-curation queries in `SparkEntry.queries`, each forced through
  * the `noop` sink as `graft.Bench` does. Every pass gets a fresh session
  * in the same JVM, so the per-application memo builds are paid by every
  * pass alike. One cold pass, one warm-up pass that also writes the
  * outputs the launcher checks, then warm passes for the measured window.
  */
object Curate {

  private def noop(q: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** (family, query) in the order a pass runs them. */
  val mix: Seq[(String, String)] = Seq(
    "dedup" -> "q_dedup_minhash",
    "ann" -> "q_ann_lsh",
    "text" -> "q_lang_id",
    "media" -> "q_image_phash",
    "graph" -> "q_triangle_count")

  private val MinWarmPasses = 4

  def run(first: SparkSession, work: Path, seconds: Int, trace: Boolean): Outcome = {
    val data = work.resolve("data").toString
    val selected = mix
    var spark = first
    var attempted, failed = 0L
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    /** Run every query once; `sink` forces each result. */
    def pass(record: Boolean, probe: Option[Probe], sink: (String, DataFrame) => Unit = noop): Cost =
      Cost.of(selected.foreach { case (_, q) =>
        attempted += 1
        val q0 = System.nanoTime()
        def body(): Unit = sink(q, SparkEntry.queries(q)(spark, data))
        try probe.fold(body())(_.phase(q)(body()))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] $q failed: $e")
            failed += 1
        }
        if (record) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += Stats.secondsSince(q0)
      })

    def fresh(): Unit = {
      spark.stop()
      spark = Sessions.bench(work)
      Sessions.ready(spark)
    }

    val cold = pass(record = false, None)
    // The warm-up pass writes each query's output for the oracle check.
    val results = Files.createDirectories(work.resolve("results"))
    fresh()
    pass(record = false, None, (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(results.resolve(q).toString))

    val plain = mutable.ArrayBuffer.empty[Cost]
    val traced = mutable.ArrayBuffer.empty[Double]
    val totals = new Counters
    var spans = 0
    val windowStart = System.nanoTime()
    var i = 0
    // At least four warm passes: a pass takes about 5 s, a 4-core shared
    // host's cores change speed by up to 20% within seconds, and with the
    // two passes a 10 s window holds the warm median spread by a quarter
    // between runs.
    while (Stats.secondsSince(windowStart) < seconds || plain.size < MinWarmPasses || (trace && traced.isEmpty)) {
      fresh()
      val on = trace && i % 2 == 1
      i += 1
      if (on) {
        val probe = new Probe(spark)
        probe.attach()
        probe.run = i
        traced += probe.span("pass")(pass(record = false, Some(probe))).wallS
        probe.detach()
        totals += probe.total(_ => true)
        spans += probe.spanCount
        if (traced.size == 1) probe.writeSpans(work.resolve("spans.jsonl"))
      } else {
        val c = pass(record = true, None)
        System.err.println(f"[perfbench] warm pass ${plain.size + 1}%d: ${c.wallS}%.3f s, ${c.cpuS}%.3f cpu-s")
        plain += c
      }
    }
    val warm = Stats.median(plain.map(_.wallS).toSeq)
    val queryMedians = perQuery.map { case (q, ts) => q -> Stats.median(ts.toSeq) }

    val oracles = SparkEntry.oracleSql
    Files.writeString(results.resolve("oracle_sql.json"), selected.flatMap { case (_, q) =>
      oracles.get(q).map(sql => s"${Json.str(q)}:${Json.str(sql)}")
    }.mkString("{", ",", "}"))
    // Each query ran `runs` times; a wrong output counts against all of them.
    val runsPerQuery = attempted / selected.size.max(1)
    Files.writeString(results.resolve("runs_per_query.txt"), runsPerQuery.toString)

    val e2e = Seq("cold_s" -> cold.wallS, "warm_s" -> warm,
      "cold_cpu_s" -> cold.cpuS, "warm_cpu_s" -> Stats.median(plain.map(_.cpuS).toSeq))
    val families = selected.map(_._1).distinct.map { f =>
      s"ext.${f}_s" -> selected.collect { case (`f`, q) => queryMedians.getOrElse(q, 0.0) }.sum
    }
    val detail = Seq("curate.query_geomean_s" -> Stats.geomean(queryMedians.values.toSeq),
      "curate.warm_passes" -> plain.size.toDouble) ++ families ++
      queryMedians.toSeq.map { case (q, t) => s"query.$q" -> t }
    if (!trace) Outcome(e2e, Nil, detail, attempted, failed)
    else {
      val n = traced.size.toDouble
      val tracedWarm = Stats.median(traced.toSeq)
      val layers = totals.metrics.map { case (k, v) => k -> v / n } ++ Seq(
        "plan.share" -> totals.planAndCodegenMs / 1e3 / traced.sum,
        "trace.overhead_frac" -> (tracedWarm / warm - 1.0),
        "trace.listener_ms" -> totals.listenerNs / 1e6 / n)
      Outcome(e2e, layers, detail :+ ("trace.spans" -> spans.toDouble), attempted, failed)
    }
  }
}

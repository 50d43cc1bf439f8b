package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Pins `Summary.report`'s stdout byte for byte against the seven-query
  * report it replaced, kept here as the oracle.
  */
class SummarySpec extends SparkSpec {
  import spark.implicits._

  private def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  private def capture(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, UTF_8)
    Console.withOut(out)(body)
    out.flush()
    buf.toString(UTF_8)
  }

  /** The report as seven separate queries (count, time range, distinct
    * counts, null counts, one top 5 per categorical column).
    */
  private def oracle(df: DataFrame): String = capture {
    val n = df.count()
    val Array(tmin, tmax) = df
      .agg(min(col("timestamp")), max(col("timestamp")))
      .collect()(0).toSeq.toArray
    val Array(users, etypes) = df
      .agg(countDistinct(col("user_id")), countDistinct(col("event_type")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    println(
      s"""[Pipeline] Summary:
         |  rows: $n
         |  columns: ${df.columns.length}
         |  time range: $tmin -> $tmax
         |  users: $users | event_types: $etypes""".stripMargin)
    val nullCounts = df.select(df.columns.map(c =>
      sum(col(c).isNull.cast("long")).as(c)).toSeq: _*).collect()(0)
    val nonZero = df.columns.map(c => c -> nullCounts.getAs[Long](c))
      .filter(_._2 > 0).sortBy(-_._2).take(8)
    if (nonZero.nonEmpty)
      println("[Null counts]\n" + nonZero.map { case (c, v) => s"$c $v" }.mkString("\n"))
    Seq("event_type", "status", "severity").filter(df.columns.contains).foreach { c =>
      val top = df.groupBy(col(c)).count()
        .orderBy(col("count").desc, col(c)).limit(5).collect()
      println(s"\n[Top $c]\n" + top.map(r => s"${r.get(0)} ${r.getLong(1)}").mkString("\n"))
    }
  }

  /** `Summary.report` on `df`, its scalar figures filled by a noop write. */
  private def report(df: DataFrame): String = {
    val scalars = Observation()
    Summary.observe(df, scalars).write.format("noop").mode("overwrite").save()
    capture(Summary.report(df, scalars))
  }

  private def cfg(input: String, gap: Int, drop: Boolean, validate: String = "strict") =
    PipelineConfig(input = input,
      output = Files.createTempDirectory("graft-summary").toString + "/out",
      sessionGapMinutes = gap, dropUnknownSeverity = drop,
      validateMode = validate, summary = true)

  /** The report section of a `Pipeline.run`'s stdout, and the oracle's
    * report on the same transform.
    */
  private def runAndOracle(config: PipelineConfig): (String, String) = {
    val stdout = capture(Pipeline.run(spark, config))
    val start = stdout.indexOf("[Pipeline] Summary:")
    assert(start >= 0, stdout)
    val got = stdout.substring(start, stdout.indexOf("[Pipeline] Done."))
    val want = oracle(Pipeline.transform(Pipeline.readRaw(spark, config.input), config))
    (got, want)
  }

  test("golden input under both golden flag sets: report equals the seven-query oracle") {
    for ((gap, drop) <- Seq((60, true), (30, false))) {
      val (got, want) = runAndOracle(cfg(resource("raw_events.csv"), gap, drop))
      assert(got === want, s"gap=$gap drop=$drop")
      assert(got.contains("[Top severity]"))
    }
  }

  test("--validate off: the write is the first action on the cache") {
    val (got, want) = runAndOracle(cfg(resource("raw_events.csv"), 60, true, validate = "off"))
    assert(got === want)
  }

  test("null counts: sorted desc, ties in column order, cut at eight") {
    val ts = Timestamp.valueOf("2025-12-17 08:00:00")
    val rows = (0 until 12).map { i =>
      def nullIf(k: Int, v: String) = if (i < k) null else v
      (i.toLong, if (i < 2) null else new Timestamp(ts.getTime + i * 60000L),
        nullIf(3, s"u${i % 4}"), nullIf(2, "login"), nullIf(2, "success"),
        nullIf(4, "high"), nullIf(5, "10.0.0.1"), nullIf(3, "a"), nullIf(1, "b"),
        nullIf(6, "c"), nullIf(3, "d"))
    }
    val df = rows.toDF("event_id", "timestamp", "user_id", "event_type", "status",
      "severity", "source_ip", "a", "b", "c", "d")
    val got = report(df)
    assert(got === oracle(df))
    // ten columns have nulls; the cut at eight falls inside the tied 2s,
    // which keep column order, so `status` (2) and `b` (1) are dropped
    assert(got.contains("[Null counts]\nc 6\nsource_ip 5\nseverity 4\nuser_id 3\na 3\nd 3\n" +
      "timestamp 2\nevent_type 2\n\n[Top"))
  }

  test("ties inside a top 5 break by value ascending, NULL first") {
    val values = Seq("login", "logout", "file", "access", "delete", "admin", null)
    val rows = for (v <- values; k <- 0 until 3) yield
      (k.toLong, Timestamp.valueOf(s"2025-12-1${k} 08:00:00"), s"u$k", v,
        if (k == 0) "ok" else "failed", v, "10.0.0.1")
    val df = rows.toDF("event_id", "timestamp", "user_id", "event_type", "status",
      "severity", "source_ip")
    val got = report(df)
    assert(got === oracle(df))
    assert(got.contains("[Top event_type]\nnull 3\naccess 3\nadmin 3\ndelete 3\nfile 3\n"))
    assert(got.contains("users: 3 | event_types: 6"))
  }

  test("zero output rows print null -> null and zero counts") {
    val empty = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(resource("raw_events.csv")).limit(0)
    val got = report(empty)
    assert(got === oracle(empty))
    assert(got.contains("rows: 0\n"))
    assert(got.contains("time range: null -> null\n"))
    assert(got.contains("users: 0 | event_types: 0\n"))

    // the same through Pipeline.run: no timestamp parses, so nothing survives
    val csv = Files.createTempDirectory("graft-summary-empty").resolve("raw.csv")
    Files.writeString(csv, "event_id,timestamp,user_id,event_type,status,severity,source_ip\n" +
      "1,not a time,alice,login,success,high,10.0.0.1\n" +
      "2,later,bob,logout,failed,low,10.0.0.2\n")
    val (viaRun, want) = runAndOracle(cfg(csv.toString, 30, false, validate = "warn"))
    assert(viaRun === want)
    assert(viaRun.contains("time range: null -> null\n"))
  }

  test("two runs at once on one session each print their own report") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val configs = Seq(cfg(resource("raw_events.csv"), 60, true),
      cfg(resource("raw_events.csv"), 30, false))
    val runs = configs.map(c => Future(runAndOracle(c)))
    val results = runs.map(Await.result(_, 5.minutes))
    results.foreach { case (got, want) => assert(got === want) }
    assert(results(0)._1 !== results(1)._1, "the two flag sets should report differently")
  }
}

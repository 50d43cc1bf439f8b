package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark, started by `perfbench/run.py`.
  *
  * {{{
  *   perfbench.Launch <workload> <work> <seconds> <trace 0|1>
  * }}}
  *
  * Prints `PERFBENCH_READY` once its first session is ready (the launcher
  * reports process start to that line), then one `PERFBENCH_RESULT` line
  * of JSON. The program's own output is kept off stdout.
  */
object Launch {

  /** `key=value` facts the input generator wrote next to the inputs. */
  def meta(work: Path): Map[String, String] = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(work.resolve("input/meta.properties"))
    try p.load(in) finally in.close()
    p.asScala.toMap
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val stdout = System.out
    // Spark and the program print freely; only the protocol lines go to
    // the real stdout.
    System.setOut(System.err)
    val workload = args(0)
    val work = Paths.get(args(1)).toAbsolutePath
    def session(): SparkSession = {
      val s = workload match {
        case "secpipe_batch" => Sessions.pipeline(work)
        case "curate_mix" => Sessions.bench(work)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      Sessions.ready(s)
      s
    }
    val spark = session()
    stdout.println("PERFBENCH_READY")
    stdout.flush()

    val seconds = args(2).toInt
    val trace = args(3) == "1"
    val out = workload match {
      case "secpipe_batch" => SecPipe.run(spark, work, seconds, trace)
      case "curate_mix" => Curate.run(spark, work, seconds, trace)
    }
    // Set-up: a fresh, ready session in this JVM, timed SETUPS times after
    // the workload, when class loading and the JIT no longer add to it.
    val setups = (1 to SETUPS).map { _ =>
      activeSession().foreach(_.stop())
      val t0 = System.nanoTime()
      session()
      Stats.secondsSince(t0)
    }
    val e2e = out.e2e ++ Seq("setup_s" -> Stats.median(setups), "peak_rss_mb" -> peakRssMb())
    stdout.println("PERFBENCH_RESULT {" +
      s""""e2e":${Json.obj(e2e)},"layers":${Json.obj(out.layers)},""" +
      s""""detail":${Json.obj(out.detail)},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"notes":${out.notes.map(Json.str).mkString("[", ",", "]")}}""")
    stdout.flush()
    activeSession().foreach(_.stop())
  }

  private val SETUPS = 9

  private def activeSession(): Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
}

package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The result of one workload run, before the launcher adds set-up time
  * and its own output checks.
  *
  *  - `e2e`: `cold_s`, `warm_s`, `cold_cpu_s`, `warm_cpu_s` (see README.md);
  *  - `layers`: the per-layer metrics (traced runs only);
  *  - `detail`: workload-specific figures, printed for the reader;
  *  - `attempted` / `failed`: operations run, and those that threw or
  *    were found wrong by the checks made inside the JVM.
  */
final case class Outcome(
    e2e: Seq[(String, Double)],
    layers: Seq[(String, Double)],
    detail: Seq[(String, Double)],
    attempted: Long,
    failed: Long,
    notes: Seq[String] = Nil)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Quantile of `values` where each value counts `weights(i)` times. */
  def weightedQuantile(values: Seq[Double], weights: Seq[Long], q: Double): Double = {
    val pairs = values.zip(weights).filter(_._2 > 0).sortBy(_._1)
    val total = pairs.map(_._2).sum
    if (total == 0) Double.NaN
    else {
      val target = math.ceil(q * total).toLong.max(1L)
      var acc = 0L
      pairs.find { case (_, w) => acc += w; acc >= target }.get._1
    }
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds this JVM has used so far, all threads (tasks, planning,
    * the JIT compiler and the garbage collector). Time the host gives to
    * other guests does not count, so it varies far less than wall time on
    * a shared host.
    */
  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}

/** Wall and process-CPU seconds of one unit of work. */
final case class Cost(wallS: Double, cpuS: Double)

object Cost {
  def of(body: => Unit): Cost = {
    val t0 = System.nanoTime()
    val c0 = Stats.processCpuS
    body
    Cost(Stats.secondsSince(t0), Stats.processCpuS - c0)
  }
}

/** Builds the benchmark's sessions. Spark's local directories, warehouse
  * and streaming checkpoints all stay under the run's work directory.
  */
object Sessions {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def build(work: Path, appName: String, conf: Seq[(String, String)]): SparkSession = {
    val tmp = Files.createDirectories(work.resolve("spark-tmp"))
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
    val spark = conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `graft.Main`'s session, with the master sized to this host. */
  def pipeline(work: Path): SparkSession = build(work, "security-data-pipeline", Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.enabled" -> "true"))

  /** `graft.Bench`'s session, with the master sized to this host. */
  def bench(work: Path): SparkSession = build(work, "perfbench-curate", Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true"))

  /** Make the session ready: one trivial job, so the scheduler is up. */
  def ready(spark: SparkSession): Unit = spark.range(1).count()
}

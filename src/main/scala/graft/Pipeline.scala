package graft

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Cleaning, Features, Normalization, Validation}
import graft.schema.EventSchema

/** Mirrors the reference CLI knobs (reference: src/pipeline.py:18,72-108). */
case class PipelineConfig(
    input: String,
    output: String,
    sessionGapMinutes: Int = 30,
    summary: Boolean = false,
    validateMode: String = "warn",
    dropUnknownSeverity: Boolean = false,
    /** Emit rows sorted by (user_id, timestamp) like the reference's file
      * output. Callers that re-sort downstream can disable the extra
      * global exchange.
      */
    sortOutput: Boolean = true,
    /** Write one CSV file (the reference's contract). Disable at
      * distributed output sizes — coalesce(1) funnels the write through a
      * single task.
      */
    singleFileOutput: Boolean = true)

/** End-to-end batch pipeline (reference: src/pipeline.py:18-69): CSV scan ->
  * required-column validation -> missing-value handling -> dedup ->
  * timestamp standardization -> categorical normalization -> [optional
  * severity filter] -> feature engineering -> [optional validation] -> CSV
  * sink -> [optional summary].
  *
  * The stage ORDER is a semantic contract (SURVEY.md §3): fill-before-dedup
  * means a row differing only by a NULL later filled to "unknown" becomes a
  * duplicate; dedup-before-parse means keep-"last" is ingest order; the
  * severity filter runs before features so dropped rows don't count toward
  * user totals or sessions.
  *
  * Unlike the reference's eager stage-at-a-time execution, the transform
  * chain is ONE lazy Catalyst plan, cached once: filters are pushed to the
  * scan and all per-user analytics share one hash-partition exchange. A
  * run issues these actions:
  *  - the CSV scan's header and schema-inference jobs (`readRaw`);
  *  - unless `validateMode` is `off`, the validation aggregate, which runs
  *    the whole transform and fills the cache;
  *  - the write, one job over the cache (or over the transform when
  *    validation is off), which with `summary` also computes the report's
  *    scalar figures ([[Summary.observe]]);
  *  - with `summary`, one query over the cache for the report's
  *    categorical figures ([[Summary.report]]).
  */
object Pipeline {

  /** Read the raw CSV and attach `_ingest_order` so the order-dependent
    * keep-last dedup and stable sort are well-defined in a distributed
    * setting. `monotonically_increasing_id` is (partitionIndex << 33 | row)
    * and therefore follows file order when each file maps to one split; for
    * strict golden parity use single-file input (SURVEY.md §7.5(1)). At
    * 100 TB, ingest order should instead come from an explicit column in
    * the source data.
    */
  def readRaw(spark: SparkSession, input: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(input)
      .withColumn(EventSchema.ingestOrderCol, monotonically_increasing_id())

  /** The full transform chain, CSV-agnostic (testable on any DataFrame that
    * has the required columns plus `_ingest_order`).
    */
  def transform(df: DataFrame, config: PipelineConfig): DataFrame = {
    val cleaned = df
      .transform(Cleaning.validateRequiredColumns(_))
      .transform(Cleaning.handleMissingValues)
      .transform(Cleaning.removeDuplicates)
      .transform(Normalization.standardizeTimestamps(_))
      .transform(Normalization.normalizeCategoricals)

    val filtered =
      if (config.dropUnknownSeverity) cleaned.filter(col("severity") =!= "unknown")
      else cleaned

    val featured = Features.runAll(filtered, config.sessionGapMinutes)

    // Final output order is the sessionization sort, with ingest order as
    // the stable tiebreak when present (reference:
    // src/feature_engineering.py:72 and the golden file's (user_id,
    // timestamp) order — SURVEY.md §1.5). Inputs built without readRaw
    // may lack _ingest_order; sort on what exists rather than crash.
    val sortCols = Seq(col("user_id"), col("timestamp")) ++
      (if (featured.columns.contains(EventSchema.ingestOrderCol))
        Seq(col(EventSchema.ingestOrderCol)) else Nil)
    val ordered = (if (config.sortOutput) featured.orderBy(sortCols: _*)
      else featured).drop(EventSchema.ingestOrderCol)

    // Reference column order: input columns, then features in the order
    // they were engineered (golden header, data/processed_events.csv:1).
    val inputCols = df.columns.filterNot(_ == EventSchema.ingestOrderCol)
      .filter(ordered.columns.contains)
    val featCols = EventSchema.featureColumns.filter(ordered.columns.contains)
    ordered.select((inputCols ++ featCols).map(col).toSeq: _*)
  }

  def run(spark: SparkSession, config: PipelineConfig): Unit = {
    println(s"[Pipeline] Reading: ${config.input}")
    val raw = readRaw(spark, config.input)

    val processed = transform(raw, config).cache()
    try {
      if (config.validateMode.toLowerCase != "off") {
        println("[Pipeline] Validating schema...")
        Validation.check(processed, config.validateMode)
      }

      println(s"[Pipeline] Writing processed output: ${config.output}")
      // The summary's scalar figures ride on the write job. An observation
      // fills once, so every run takes a fresh, unnamed one.
      val scalars = if (config.summary) Some(Observation()) else None
      val written = scalars.fold(processed)(Summary.observe(processed, _))
      // single-file output mirrors the reference's one-CSV contract;
      // disable for distributed-size outputs (one task writes otherwise)
      val out = if (config.singleFileOutput) written.coalesce(1) else written
      out.write
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ssxxx")
        .mode("overwrite")
        .csv(config.output)

      scalars.foreach(Summary.report(processed, _))
    } finally processed.unpersist()
    println("[Pipeline] Done.")
  }
}

/** Post-run summary report (reference: src/pipeline.py:53-67): row/column
  * counts, time range, distinct users/event types, per-column null counts
  * (top 8), and top-5 value counts for the categorical signals.
  *
  * The figures come from two places, so the report adds one query to the
  * run rather than one per figure:
  *  - the scalar figures (row count, time range, null counts) from
  *    [[observe]], whose aggregates the caller's next action (the
  *    pipeline's write) computes as it runs;
  *  - the categorical figures (distinct counts, top 5s) from one query
  *    over the frame in [[report]]: every (column, value) pair is counted
  *    in one aggregation, and a second, partially aggregated one per
  *    column counts the distinct values and collects the counted pairs of
  *    the low-cardinality vocabulary columns only. No task receives one
  *    row per distinct user.
  */
object Summary {

  private val distinctColumns = Seq("user_id", "event_type")
  private val topColumns = Seq("event_type", "status", "severity")

  /** `df` with the report's scalar figures attached: the first action on
    * the returned frame fills `scalars`, adding no job.
    */
  def observe(df: DataFrame, scalars: Observation): DataFrame = {
    val nulls = df.columns.zipWithIndex.map { case (c, i) =>
      count(when(col(c).isNull, 1)).as(s"null_$i")
    }
    df.observe(scalars, count(lit(1)).as("rows"),
      (Seq(min(col("timestamp")).as("tmin"), max(col("timestamp")).as("tmax")) ++ nulls): _*)
  }

  /** Print the report for `df`, whose scalar figures `scalars` holds
    * ([[observe]]); blocks until an action on the observed frame filled it.
    */
  def report(df: DataFrame, scalars: Observation): Unit = {
    val tops = topColumns.filter(df.columns.contains)
    val figures = categorical(df, tops)
    val m = scalars.get
    println(
      s"""[Pipeline] Summary:
         |  rows: ${m("rows")}
         |  columns: ${df.columns.length}
         |  time range: ${m("tmin")} -> ${m("tmax")}
         |  users: ${figures("user_id")._1} | event_types: ${figures("event_type")._1}""".stripMargin)

    // Sorted desc (a stable sort keeps column order among ties), top 8.
    val nonZero = df.columns.zipWithIndex
      .map { case (c, i) => c -> m(s"null_$i").asInstanceOf[Long] }
      .filter(_._2 > 0).sortBy(-_._2).take(8)
    if (nonZero.nonEmpty)
      println("[Null counts]\n" + nonZero.map { case (c, v) => s"$c $v" }.mkString("\n"))

    tops.foreach { c =>
      println(s"\n[Top $c]\n" + figures(c)._2.map { case (v, n) => s"$v $n" }.mkString("\n"))
    }
  }

  /** For each of `distinctColumns ++ tops`, its distinct non-NULL count
    * and, for `tops`, its top 5 (count desc, then value asc, NULL first),
    * from one query. Values are compared as strings.
    */
  private def categorical(df: DataFrame, tops: Seq[String])
      : Map[String, (Long, Seq[(String, Long)])] = {
    val columns = (distinctColumns ++ tops).distinct
    df.select(explode(array(columns.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)).as("p"))
      .groupBy(col("p.column").as("column"), col("p.value").as("value")).count()
      // Partially aggregated per column; only the vocabulary columns'
      // (count, value) pairs are collected, never one per distinct user.
      .groupBy("column").agg(
        count(col("value")),
        slice(sort_array(collect_list(when(col("column").isin(tops: _*),
          struct(-col("count"), col("value"))))), 1, 5))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Row](2).map(t => (t.getString(1), -t.getLong(0)))))
      .toMap.withDefaultValue((0L, Nil))
  }
}

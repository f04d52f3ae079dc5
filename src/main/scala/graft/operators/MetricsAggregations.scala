package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The metrics aggregation family A1-A12 over JobMetrics-shaped rows
  * (reference: src/job_monitor_service.cpp:456-727, 1292-1400).
  *
  * The composite aggregate compiles to ONE `agg()` (partial/map-side
  * combine before the shuffle) followed by a derived-column `select` —
  * no second pass over the data. Grouped variants reuse the same
  * expression lists with a groupBy key, so the plan shape is identical
  * whether aggregating one job, one type, or the whole table.
  */
object MetricsAggregations {

  /** The SUM/MAX phase of aggregateMetrics
    * (reference: src/job_monitor_service.cpp:1302-1320). */
  private def sums: Seq[Column] = Seq(
    sum(col("recordsProcessed")).as("recordsProcessed"),
    sum(col("recordsSuccessful")).as("recordsSuccessful"),
    sum(col("recordsFailed")).as("recordsFailed"),
    sum(col("totalBytesProcessed")).as("totalBytesProcessed"),
    sum(col("totalBytesWritten")).as("totalBytesWritten"),
    sum(col("totalBatches")).as("totalBatches"),
    max(col("peakMemoryUsage")).as("peakMemoryUsage"),
    max(col("peakCpuUsage")).as("peakCpuUsage"),
    sum(col("executionTimeMs")).as("executionTimeMs"),
    // conditional AVG: only rates > 0 participate
    // (reference: src/job_monitor_service.cpp:1330-1339)
    avg(when(col("averageProcessingRate") > 0, col("averageProcessingRate")))
      .as("avgRateOrNull"),
    count(lit(1)).as("n"))

  /** The derived-ratio phase (reference: src/job_monitor_service.cpp:1322-1381).
    * Each guard replicates the reference's if(>0) checks — zero denominators
    * yield the field's default 0.0, not null/NaN. */
  private def deriveRatios(df: DataFrame): DataFrame =
    df.withColumn("averageProcessingRate", coalesce(col("avgRateOrNull"), lit(0.0)))
      .drop("avgRateOrNull")
      .withColumn("averageBatchSize",
        when(col("totalBatches") > 0,
          col("recordsProcessed").cast("double") / col("totalBatches")).otherwise(0.0))
      .withColumn("processingRate",
        when(col("executionTimeMs") > 0,
          col("recordsProcessed").cast("double") / (col("executionTimeMs") / 1000.0))
          .otherwise(0.0))
      .withColumn("errorRate",
        when(col("recordsProcessed") > 0,
          col("recordsFailed").cast("double") / col("recordsProcessed") * 100.0)
          .otherwise(0.0))
      .withColumn("throughputMBps",
        when(col("executionTimeMs") > 0 && col("totalBytesProcessed") > 0,
          (col("totalBytesProcessed") / (1024.0 * 1024.0)) /
            (col("executionTimeMs") / 1000.0)).otherwise(0.0))
      .withColumn("memoryEfficiency",
        when(col("peakMemoryUsage") > 0,
          col("recordsProcessed").cast("double") /
            (col("peakMemoryUsage") / (1024.0 * 1024.0))).otherwise(0.0))
      .withColumn("cpuEfficiency",
        when(col("peakCpuUsage") > 0,
          col("recordsProcessed").cast("double") / col("peakCpuUsage")).otherwise(0.0))

  /** A1: aggregate a whole metrics collection to one row. */
  def aggregateMetrics(metrics: DataFrame): DataFrame =
    deriveRatios(metrics.agg(sums.head, sums.tail: _*))

  /** Grouped form of A1 (general shape of A3). */
  def aggregateMetricsBy(metrics: DataFrame, keys: Column*): DataFrame =
    deriveRatios(metrics.groupBy(keys: _*).agg(sums.head, sums.tail: _*))

  /** A5: avg processing rate, optional type filter, empty→0.0
    * (reference: src/job_monitor_service.cpp:540-572). */
  def avgProcessingRate(metrics: DataFrame, jobType: Option[String] = None): DataFrame = {
    val base = jobType.fold(metrics)(t => metrics.filter(col("jobType") === t))
    base.agg(coalesce(
      avg(when(col("averageProcessingRate") > 0, col("averageProcessingRate"))),
      lit(0.0)).as("avgProcessingRate"))
  }

  /** A6: avg error rate over jobs with processed>0, empty→0.0
    * (reference: src/job_monitor_service.cpp:574-606). */
  def avgErrorRate(metrics: DataFrame, jobType: Option[String] = None): DataFrame = {
    val base = jobType.fold(metrics)(t => metrics.filter(col("jobType") === t))
    base.agg(coalesce(
      avg(when(col("recordsProcessed") > 0, col("errorRate"))), lit(0.0))
      .as("avgErrorRate"))
  }

  /** A12: status counts as one row (reference: src/request_handler.cpp:1345-1352
    * declared shape {totalJobs, runningJobs, completedJobs, failedJobs}). */
  def statusCounts(jobs: DataFrame): DataFrame =
    jobs.agg(
      count(lit(1)).as("totalJobs"),
      count(when(col("status") === graft.model.JobStatus.Running, 1)).as("runningJobs"),
      count(when(col("status") === graft.model.JobStatus.Completed, 1)).as("completedJobs"),
      count(when(col("status") === graft.model.JobStatus.Failed, 1)).as("failedJobs"))

  /** A13: running per-job counters — every event row annotated with the
    * cumulative totals AS OF that event, the batch/replay form of the
    * reference's incrementJobCounter / update-mode streaming aggregation
    * (reference: src/job_monitor_service.cpp counters; the live stream
    * variant is the update-mode groupBy in StreamingSpec). At scale this
    * is one shuffle on the job key; the running frame never re-scans. */
  def runningCounters(events: DataFrame, keyCol: String = "jobId",
      orderCol: String = "event_id", valueCol: String = "n"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    events
      .withColumn("recordsProcessed", sum(col(valueCol)).over(w))
      .withColumn("batches", count(lit(1)).over(w))
  }
}

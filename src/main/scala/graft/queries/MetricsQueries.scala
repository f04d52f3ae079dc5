package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.operators.{JobQueries, LogQuery, MetricsAggregations}

/** Oracle-verified exercises of the reference-shaped operator APIs
  * (JobQueries, MetricsAggregations, LogQuery) over metrics/jobs/logs
  * frames derived DETERMINISTICALLY from the testdata tables. The DuckDB
  * SQL re-derives the full pipeline independently.
  *
  * Cross-engine note: every double that is summed/averaged across rows
  * holds integer values (exact in IEEE summation regardless of order);
  * per-group ratio derivations on top are then bit-identical.
  */
object MetricsQueries {

  /** orders → JobMetrics-shaped rows (deterministic synthesis). */
  private def metricsFrame(t: Tables) = t.orders.select(
    concat(lit("job_"), col("o_orderkey")).as("jobId"),
    col("o_orderpriority").as("jobType"),
    (col("o_orderkey") % 1000).as("recordsProcessed"),
    (col("o_orderkey") % 900).as("recordsSuccessful"),
    (col("o_orderkey") % 7).as("recordsFailed"),
    floor(col("o_totalprice")).cast("long").as("totalBytesProcessed"),
    floor(col("o_totalprice") / 2).cast("long").as("totalBytesWritten"),
    (col("o_orderkey") % 10).as("totalBatches"),
    ((col("o_orderkey") % 100) * 1048576L).as("peakMemoryUsage"),
    (col("o_orderkey") % 50).cast("double").as("peakCpuUsage"),
    (col("o_orderkey") % 10000).as("executionTimeMs"),
    when(col("o_orderkey") % 3 === 0, 0.0)
      .otherwise((col("o_orderkey") % 97).cast("double")).as("averageProcessingRate"))

  val entries: Map[String, QueryDef] = Map(

    // A1 full composite: SUM/MAX + conditional AVG + the derived-ratio
    // chain, grouped by type (reference: src/job_monitor_service.cpp:1292-1385).
    "q22_metrics_composite" -> QueryDef(
      """WITH m AS (
        |  SELECT o_orderpriority AS jobType,
        |         o_orderkey % 1000 AS recordsProcessed,
        |         o_orderkey % 7 AS recordsFailed,
        |         CAST(floor(o_totalprice) AS BIGINT) AS totalBytesProcessed,
        |         o_orderkey % 10 AS totalBatches,
        |         (o_orderkey % 100) * 1048576 AS peakMemoryUsage,
        |         CAST(o_orderkey % 50 AS DOUBLE) AS peakCpuUsage,
        |         o_orderkey % 10000 AS executionTimeMs,
        |         CASE WHEN o_orderkey % 3 = 0 THEN 0.0
        |              ELSE CAST(o_orderkey % 97 AS DOUBLE) END AS averageProcessingRate
        |  FROM orders),
        |agg AS (
        |  SELECT jobType,
        |         CAST(SUM(recordsProcessed) AS BIGINT) AS recordsProcessed,
        |         CAST(SUM(recordsFailed) AS BIGINT) AS recordsFailed,
        |         CAST(SUM(totalBytesProcessed) AS BIGINT) AS totalBytesProcessed,
        |         CAST(SUM(totalBatches) AS BIGINT) AS totalBatches,
        |         MAX(peakMemoryUsage) AS peakMemoryUsage,
        |         MAX(peakCpuUsage) AS peakCpuUsage,
        |         CAST(SUM(executionTimeMs) AS BIGINT) AS executionTimeMs,
        |         AVG(CASE WHEN averageProcessingRate > 0 THEN averageProcessingRate END) AS avgRate,
        |         COUNT(*) AS n
        |  FROM m GROUP BY jobType)
        |SELECT jobType, recordsProcessed, recordsFailed, totalBatches,
        |       executionTimeMs, n,
        |       COALESCE(avgRate, 0.0) AS averageProcessingRate,
        |       CASE WHEN totalBatches > 0
        |            THEN CAST(recordsProcessed AS DOUBLE) / totalBatches ELSE 0.0 END AS averageBatchSize,
        |       CASE WHEN executionTimeMs > 0
        |            THEN CAST(recordsProcessed AS DOUBLE) / (executionTimeMs / 1000.0) ELSE 0.0 END AS processingRate,
        |       CASE WHEN recordsProcessed > 0
        |            THEN CAST(recordsFailed AS DOUBLE) / recordsProcessed * 100.0 ELSE 0.0 END AS errorRate,
        |       CASE WHEN executionTimeMs > 0 AND totalBytesProcessed > 0
        |            THEN (totalBytesProcessed / (1024.0 * 1024.0)) / (executionTimeMs / 1000.0)
        |            ELSE 0.0 END AS throughputMBps,
        |       CASE WHEN peakMemoryUsage > 0
        |            THEN CAST(recordsProcessed AS DOUBLE) / (peakMemoryUsage / (1024.0 * 1024.0))
        |            ELSE 0.0 END AS memoryEfficiency,
        |       CASE WHEN peakCpuUsage > 0
        |            THEN CAST(recordsProcessed AS DOUBLE) / peakCpuUsage ELSE 0.0 END AS cpuEfficiency
        |FROM agg ORDER BY jobType""".stripMargin) { (s, dir) =>
      MetricsAggregations.aggregateMetricsBy(metricsFrame(Tables(s, dir)), col("jobType"))
        .select(col("jobType"), col("recordsProcessed"), col("recordsFailed"),
          col("totalBatches"), col("executionTimeMs"), col("n"),
          col("averageProcessingRate"), col("averageBatchSize"),
          col("processingRate"), col("errorRate"), col("throughputMBps"),
          col("memoryEfficiency"), col("cpuEfficiency"))
        .orderBy(col("jobType"))
    },

    // Flagship GET /api/monitor/jobs pipeline: param filters + sort +
    // limit + derived projection (reference: src/request_handler.cpp:1172-1318).
    "q23_monitor_jobs" -> QueryDef(
      """WITH jobs AS (
        |  SELECT 'job_' || o_orderkey AS jobId,
        |         CASE o_orderstatus WHEN 'O' THEN 'RUNNING'
        |                            WHEN 'F' THEN 'COMPLETED'
        |                            ELSE 'PENDING' END AS status,
        |         o_orderdate AS createdAt,
        |         o_orderdate + to_minutes(5) AS startedAt,
        |         o_orderdate + to_minutes(5 + o_orderkey % 100) AS completedAt,
        |         o_orderkey % 1000 AS recordsProcessed
        |  FROM orders),
        |filtered AS (
        |  SELECT * FROM jobs
        |  WHERE status = 'COMPLETED'
        |    AND createdAt >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND createdAt <= TIMESTAMP '1999-12-31 00:00:00'
        |  ORDER BY createdAt DESC, jobId ASC LIMIT 200)
        |SELECT jobId, status,
        |       strftime(createdAt, '%Y-%m-%d %H:%M:%S') AS created_at,
        |       recordsProcessed,
        |       epoch_ms(completedAt) - epoch_ms(startedAt) AS executionTimeMs,
        |       CASE WHEN epoch_ms(completedAt) - epoch_ms(startedAt) > 0
        |            THEN CAST(recordsProcessed AS DOUBLE)
        |                 / ((epoch_ms(completedAt) - epoch_ms(startedAt)) / 1000.0)
        |            ELSE 0.0 END AS processingRate
        |FROM filtered ORDER BY createdAt DESC, jobId ASC""".stripMargin) { (s, dir) =>
      val jobs = Tables(s, dir).orders.select(
        concat(lit("job_"), col("o_orderkey")).as("jobId"),
        when(col("o_orderstatus") === "O", "RUNNING")
          .when(col("o_orderstatus") === "F", "COMPLETED")
          .otherwise("PENDING").as("status"),
        col("o_orderdate").as("createdAt"),
        timestamp_millis(unix_millis(col("o_orderdate").cast("timestamp")) + 5L * 60000)
          .as("startedAt"),
        timestamp_millis(unix_millis(col("o_orderdate").cast("timestamp")) +
          (lit(5) + col("o_orderkey") % 100) * 60000).as("completedAt"),
        (col("o_orderkey") % 1000).as("recordsProcessed"))
      val p = JobQueries.JobListParams(
        status = Some("COMPLETED"),
        from = Some(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")),
        to = Some(java.sql.Timestamp.valueOf("1999-12-31 00:00:00")),
        limit = 200)
      // derive before the top-N so it plans as TakeOrderedAndProject
      // (see JobQueries.monitorJobsJson)
      JobQueries.jobList(JobQueries.derived(jobs), p)
        .select(col("jobId"), col("status"),
          date_format(col("createdAt"), "yyyy-MM-dd HH:mm:ss").as("created_at"),
          col("recordsProcessed"), col("executionTimeMs"), col("processingRate"))
        .orderBy(col("created_at").desc, col("jobId").asc)
    },

    // P9 full declared log-query: level range + component + threadId +
    // regex + level-sort + offset (reference: include/log_file_manager.hpp:45-61).
    "q24_log_query_full" -> QueryDef(
      """WITH logs AS (
        |  SELECT event_id,
        |         CASE event_type WHEN 'click' THEN 'DEBUG' WHEN 'view' THEN 'INFO'
        |              WHEN 'signup' THEN 'WARN' WHEN 'purchase' THEN 'ERROR'
        |              ELSE 'FATAL' END AS level,
        |         'comp' || (user_id % 4) AS component,
        |         'thr' || (event_id % 3) AS threadId,
        |         props AS message, ts AS timestamp
        |  FROM events),
        |f AS (
        |  SELECT * FROM logs
        |  WHERE timestamp >= TIMESTAMP '2024-01-05 00:00:00'
        |    AND timestamp <= TIMESTAMP '2024-01-28 00:00:00'
        |    AND (CASE level WHEN 'DEBUG' THEN 0 WHEN 'INFO' THEN 1 WHEN 'WARN' THEN 2
        |          WHEN 'ERROR' THEN 3 WHEN 'FATAL' THEN 4 ELSE -1 END) BETWEEN 1 AND 3
        |    AND component = 'comp1' AND threadId = 'thr1'
        |    AND regexp_matches(message, '"k": [0-9]{2}'))
        |SELECT event_id, level, component FROM f
        |ORDER BY (CASE level WHEN 'DEBUG' THEN 0 WHEN 'INFO' THEN 1 WHEN 'WARN' THEN 2
        |          WHEN 'ERROR' THEN 3 WHEN 'FATAL' THEN 4 ELSE -1 END) DESC,
        |         event_id ASC
        |LIMIT 100 OFFSET 5""".stripMargin) { (s, dir) =>
      val logs = Tables(s, dir).events.select(
        col("event_id"),
        when(col("event_type") === "click", "DEBUG")
          .when(col("event_type") === "view", "INFO")
          .when(col("event_type") === "signup", "WARN")
          .when(col("event_type") === "purchase", "ERROR")
          .otherwise("FATAL").as("level"),
        concat(lit("comp"), col("user_id") % 4).as("component"),
        concat(lit("thr"), col("event_id") % 3).as("threadId"),
        col("props").as("message"),
        col("ts").as("timestamp"))
      val p = LogQuery.LogQueryParams(
        startTime = Some(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
        endTime = Some(java.sql.Timestamp.valueOf("2024-01-28 00:00:00")),
        minLevel = Some("INFO"), maxLevel = Some("ERROR"),
        component = Some("comp1"), threadId = Some("thr1"),
        searchText = Some("\"k\": [0-9]{2}"), useRegex = true,
        sortBy = "level", ascending = false,
        maxResults = 100, offset = 5)
      LogQuery.run(logs, p, tieBreaker = Some(col("event_id")))
        .select(col("event_id"), col("level"), col("component"))
    }
  )
}

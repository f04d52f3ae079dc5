package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.operators.{JobQueries, LogQuery}

/** The REST "query language" compiler (§2.11): raw string params →
  * validated, typed query plans. This is the engine's equivalent of the
  * reference's parse/validate layer (src/input_validator.cpp:554-575
  * parseQueryString, :757-827 validateMonitoringParams) — the HTTP
  * transport itself is out of scope; everything below the route handler
  * is here.
  */
object QueryApi {

  /** Parse `a=1&b=x%20y` into a map, last-wins, with percent-decoding of
    * keys and values (reference: src/input_validator.cpp:554-575 decodes
    * both sides). Malformed escapes leave the token as-is rather than
    * rejecting the whole query string. */
  def parseQueryString(qs: String): Map[String, String] = {
    // decode %XX escapes ONLY: URLDecoder also rewrites '+' to a space
    // (form encoding), which would corrupt literal plus signs — escape
    // them first so they survive the decode
    def dec(s: String): String =
      try java.net.URLDecoder.decode(s.replace("+", "%2B"),
        java.nio.charset.StandardCharsets.UTF_8)
      catch { case _: IllegalArgumentException => s }
    qs.split("&").toSeq.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case Array(k)    => Some(dec(k) -> "")
        case _           => None
      }
    }.toMap
  }

  private val Iso = "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$".r

  /** Strict ISO-8601 parse: shape (seconds required, matching the
    * reference's validator) AND component ranges — `2025-13-40T25:61:61`
    * is rejected, not silently normalized (java.time is strict where
    * `Timestamp.valueOf` rolls fields over). */
  private def parseTs(s: String): Either[String, Timestamp] =
    if (Iso.findFirstIn(s).isEmpty) Left(s"invalid ISO-8601 timestamp: $s")
    else
      try Right(Timestamp.valueOf(java.time.LocalDateTime.parse(s,
        java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)))
      catch { case _: java.time.format.DateTimeParseException =>
        Left(s"invalid ISO-8601 timestamp: $s")
      }

  /** GET /api/monitor/jobs params → validated JobListParams
    * (reference: src/input_validator.cpp:757-827 — enum checks,
    * limit 1..1000, ISO-8601, from<to). */
  def monitorJobsParams(params: Map[String, String])
      : Either[String, JobQueries.JobListParams] = {
    val limit = params.get("limit") match {
      case None => Right(1000)
      case Some(s) => s.toIntOption.toRight(s"invalid limit: $s")
    }
    for {
      l <- limit
      from <- params.get("from").map(parseTs(_).map(Some(_))).getOrElse(Right(None))
      to <- params.get("to").map(parseTs(_).map(Some(_))).getOrElse(Right(None))
      p <- JobQueries.validate(JobQueries.JobListParams(
        status = params.get("status"),
        jobType = params.get("type"),
        from = from, to = to, limit = l))
    } yield p
  }

  /** Full GET /api/monitor/jobs: params string → JSON rows DataFrame. */
  def monitorJobs(jobs: DataFrame, queryString: String): Either[String, DataFrame] =
    monitorJobsParams(parseQueryString(queryString))
      .map(p => JobQueries.monitorJobsJson(jobs, p))

  /** POST /api/logs/search params → LogQueryParams
    * (declared semantics, include/log_file_manager.hpp:45-61). */
  def logSearchParams(params: Map[String, String])
      : Either[String, LogQuery.LogQueryParams] = {
    val maxResults = params.getOrElse("maxResults", "1000").toIntOption
      .toRight("invalid maxResults")
    val offset = params.getOrElse("offset", "0").toIntOption
      .toRight("invalid offset")
    val sortBy = params.getOrElse("sortBy", "timestamp")
    for {
      m <- maxResults
      o <- offset
      _ <- if (Seq("timestamp", "level", "component").contains(sortBy)) Right(())
        else Left(s"invalid sortBy: $sortBy")
      start <- params.get("startTime").map(parseTs(_).map(Some(_))).getOrElse(Right(None))
      end <- params.get("endTime").map(parseTs(_).map(Some(_))).getOrElse(Right(None))
      _ <- params.get("minLevel")
        .filter(l => graft.model.LogLevel.ordinalOf(l) < 0)
        .map(l => Left(s"invalid minLevel: $l")).getOrElse(Right(()))
      _ <- params.get("maxLevel")
        .filter(l => graft.model.LogLevel.ordinalOf(l) < 0)
        .map(l => Left(s"invalid maxLevel: $l")).getOrElse(Right(()))
    } yield LogQuery.LogQueryParams(
      startTime = start, endTime = end,
      minLevel = params.get("minLevel"), maxLevel = params.get("maxLevel"),
      component = params.get("component"), jobId = params.get("jobId"),
      threadId = params.get("threadId"),
      searchText = params.get("q"),
      useRegex = params.get("regex").contains("true"),
      sortBy = sortBy,
      ascending = !params.get("order").contains("desc"),
      maxResults = m, offset = o)
  }

  def logSearch(logs: DataFrame, queryString: String): Either[String, DataFrame] =
    logSearchParams(parseQueryString(queryString)).map(p => LogQuery.run(logs, p))

  /** GET /api/health[/...] surface (reference: src/request_handler.cpp:
    * 1489-1820 — 10 sub-endpoints of health booleans + system gauges).
    * One row; the sub-endpoint name selects a column subset. */
  def health(spark: org.apache.spark.sql.SparkSession,
      jobs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    health(spark, jobs.map(j =>
      j.filter(col("status").isin(graft.model.JobStatus.Active: _*)).count())
      .getOrElse(0L))
  }

  /** The health row with its active-job count already known; a local
    * frame, so collecting it starts no Spark job. */
  def health(spark: org.apache.spark.sql.SparkSession, activeJobs: Long): DataFrame = {
    val rt = Runtime.getRuntime
    val usedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    val maxMb = rt.maxMemory() / (1024 * 1024)
    import spark.implicits._
    Seq((true, true, usedMb, maxMb, usedMb.toDouble / maxMb * 100.0,
      rt.availableProcessors(), activeJobs,
      !spark.sparkContext.isStopped))
      .toDF("status", "ready", "memory_used_mb", "memory_max_mb",
        "memory_pct", "cpus", "active_jobs", "spark_alive")
  }
}

package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The flagship GET /api/monitor/jobs pipeline: param-compiled filters →
  * derived projection → sort → limit → JSON rows
  * (reference: src/request_handler.cpp:1172-1318).
  *
  * The param compiler turns REST query parameters into one declarative
  * plan; Catalyst fuses the filters and pushes them to the source scan —
  * the "in-memory path vs SQL path" split of the reference disappears.
  */
object JobQueries {

  /** Validated query params (reference: src/input_validator.cpp:757-827:
    * enum checks, limit 1..1000, ISO-8601, from<to). */
  final case class JobListParams(
      status: Option[String] = None,
      jobType: Option[String] = None,
      from: Option[Timestamp] = None,
      to: Option[Timestamp] = None,
      limit: Int = 1000)

  def validate(p: JobListParams): Either[String, JobListParams] = {
    if (p.status.exists(s => !graft.model.JobStatus.isValid(s)))
      Left(s"invalid status: ${p.status.get}")
    else if (p.jobType.exists(t => !graft.model.JobType.isValid(t)))
      Left(s"invalid type: ${p.jobType.get}")
    else if (p.limit < 1 || p.limit > 1000)
      Left(s"limit out of range 1..1000: ${p.limit}")
    else if (p.from.zip(p.to).exists { case (f, t) => f.after(t) })
      Left("from must be <= to")
    else Right(p)
  }

  /** P1+P2+P3+P5+O1: compile params into the filter/sort/limit pipeline
    * (reference: src/request_handler.cpp:1198-1268). */
  def jobList(jobs: DataFrame, p: JobListParams): DataFrame = {
    var df = jobs
    p.status.foreach(s => df = df.filter(col("status") === s))
    p.jobType.foreach(t => df = df.filter(col("jobType") === t))
    p.from.foreach(f => df = df.filter(col("createdAt") >= lit(f)))
    p.to.foreach(t => df = df.filter(col("createdAt") <= lit(t)))
    df.orderBy(col("createdAt").desc, col("jobId")).limit(p.limit)
  }

  /** P6 derived columns. `now` is injected for determinism (the reference
    * uses wall-clock for RUNNING jobs, src/request_handler.cpp:1280-1285). */
  def derived(df: DataFrame, now: Column = current_timestamp()): DataFrame = {
    val execMs = when(col("status") === graft.model.JobStatus.Running,
      (unix_millis(now) - unix_millis(col("startedAt"))))
      .otherwise(unix_millis(col("completedAt")) - unix_millis(col("startedAt")))
    df.withColumn("executionTimeMs", execMs)
      .withColumn("processingRate",
        when(col("executionTimeMs") > 0,
          col("recordsProcessed").cast("double") / (col("executionTimeMs") / 1000.0))
          .otherwise(0.0))
  }

  /** Full flagship pipeline to the reference's JSON row shape
    * (reference: src/request_handler.cpp:1292-1315). Timestamps formatted
    * `%Y-%m-%d %H:%M:%S` UTC (reference: src/request_handler.cpp:1455-1466).
    *
    * The derived columns sit BELOW the sort so that only the JSON
    * projection is above the limit: the planner then sees
    * `Limit(Project(Sort))` and emits one shuffle-free
    * `TakeOrderedAndProject` job. Deriving after the limit leaves two
    * projections that cannot collapse (`executionTimeMs` is referenced
    * three times), which plans as a range-partitioned global sort plus
    * `CollectLimit` — three jobs for at most 1,000 rows. The filters
    * still push below the derived projection to the scan. */
  def monitorJobsJson(jobs: DataFrame, p: JobListParams,
      now: Column = current_timestamp()): DataFrame = {
    val ts = (c: Column) => date_format(c, "yyyy-MM-dd HH:mm:ss")
    jobList(derived(jobs, now), p)
      .select(to_json(struct(
        col("jobId"),
        col("jobType").as("type"),
        col("status"),
        ts(col("createdAt")).as("createdAt"),
        ts(col("startedAt")).as("startedAt"),
        ts(col("completedAt")).as("completedAt"),
        col("recordsProcessed"),
        col("recordsSuccessful"),
        col("recordsFailed"),
        col("processingRate"),
        col("executionTimeMs"),
        col("errorMessage"))).as("json"))
  }

  /** Point lookup by PK — broadcast-friendly at scale
    * (reference: src/etl_job_repository.cpp:92-125). */
  def byId(jobs: DataFrame, jobId: String): DataFrame =
    jobs.filter(col("jobId") === jobId)

  /** Active jobs: status IN (PENDING, RUNNING)
    * (reference: src/etl_job_repository.cpp:350). */
  def activeJobs(jobs: DataFrame): DataFrame =
    jobs.filter(col("status").isin(graft.model.JobStatus.Active: _*))
      .orderBy(col("createdAt").desc, col("jobId"))
}

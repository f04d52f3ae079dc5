package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.EtlJob
import graft.operators.JobQueries
import graft.operators.JobQueries.JobListParams

/** GET /api/monitor/jobs: `JobQueries.monitorJobsJson` derives its
  * columns below the top-N so it plans as one TakeOrderedAndProject job.
  * This spec pins its rows, byte for byte, to the composition it
  * replaced — filters → sort → limit, THEN the derived columns and the
  * JSON projection — kept here as the witness. */
class MonitorJobsParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("monitor-jobs-parity-spec", "4").getOrCreate()

  /** The previous `monitorJobsJson`, verbatim. */
  private def witness(jobs: DataFrame, p: JobListParams, now: Column): DataFrame = {
    val ts = (c: Column) => date_format(c, "yyyy-MM-dd HH:mm:ss")
    JobQueries.derived(JobQueries.jobList(jobs, p), now)
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

  private def ts(s: String) = Timestamp.valueOf(s)

  private val Statuses = Seq("PENDING", "RUNNING", "COMPLETED", "FAILED")
  private val Types = Seq("EXTRACT", "TRANSFORM", "LOAD", "FULL_ETL")

  /** 48 jobs over 4 partitions. createdAt ties in threes (jobId breaks
    * them), RUNNING and PENDING jobs have a null completedAt, only FAILED
    * ones carry an errorMessage, PENDING ones were never started, and
    * every fifth finished job took 0 ms (processingRate's guard). */
  private lazy val jobs: DataFrame = {
    import spark.implicits._
    val fixture = (0 until 48).map { i =>
      val status = Statuses(i % 4)
      val created = new Timestamp(ts("2025-09-01 00:00:00").getTime + (i / 3) * 3600000L)
      val started =
        if (status == "PENDING") None else Some(new Timestamp(created.getTime + i * 1000L))
      val completed =
        if (status == "PENDING" || status == "RUNNING") None
        else started.map(s => new Timestamp(s.getTime + (if (i % 5 == 0) 0L else i * 60000L)))
      EtlJob(f"job_$i%03d", Types((i / 4) % 4), status, "src", "tgt", created,
        started, completed,
        if (status == "FAILED") Some(s"step $i failed") else None,
        recordsProcessed = i * 7L, recordsSuccessful = i * 6L, recordsFailed = i.toLong)
    }
    spark.sparkContext.parallelize(fixture, 4).toDF()
  }

  private val now = lit("2025-09-02 12:00:00").cast("timestamp")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq

  test("monitorJobsJson matches the derive-after-limit witness byte for byte") {
    val windows = Seq[(Option[Timestamp], Option[Timestamp])](
      (None, None),
      (Some(ts("2025-09-01 05:00:00")), None),
      (None, Some(ts("2025-09-01 11:00:00"))),
      (Some(ts("2025-09-01 05:00:00")), Some(ts("2025-09-01 11:00:00"))))
    val cases = for {
      status <- None +: Statuses.map(Some(_))
      jobType <- Seq(None, Some("EXTRACT"))
      (from, to) <- windows
      limit <- Seq(1, 10, 1000)
    } yield JobListParams(status, jobType, from, to, limit)
    var nonEmpty = 0
    cases.foreach { p =>
      val got = rows(JobQueries.monitorJobsJson(jobs, p, now))
      val want = rows(witness(jobs, p, now))
      assert(got == want, s"$p")
      if (got.nonEmpty) nonEmpty += 1
    }
    // the fixture exercises the filters: most combinations return rows
    assert(nonEmpty > cases.size / 2, s"$nonEmpty of ${cases.size} non-empty")
  }

  test("fixture edge cases reach the compared rows") {
    val all = rows(JobQueries.monitorJobsJson(jobs, JobListParams(), now))
    assert(all.size == 48)
    // RUNNING: execution time runs to the injected `now`
    val running = all.find(_.contains(""""jobId":"job_001""""))
      .getOrElse(fail("job_001 missing"))
    assert(running.contains(""""status":"RUNNING"""") &&
      running.contains(""""executionTimeMs":129599000"""), running)
    // null completedAt and errorMessage are omitted by to_json
    assert(!running.contains("completedAt") && !running.contains("errorMessage"), running)
    assert(all.exists(_.contains(""""errorMessage":"step 3 failed"""")))
    // a createdAt tie resolves by jobId
    assert(all.take(3).map(_.takeWhile(_ != ',')) ==
      Seq("job_045", "job_046", "job_047").map(id => s"""{"jobId":"$id""""), all.take(3))
    // a zero-length run keeps processingRate at 0.0
    assert(all.exists(r => r.contains(""""jobId":"job_010"""") &&
      r.contains(""""processingRate":0.0,"executionTimeMs":0""")), all)
  }
}

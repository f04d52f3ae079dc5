package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MiniJson
import graft.model.EtlJob
import graft.operators.JobQueries

/** [[HttpApi]]'s per-bind jobs snapshot: the status counts and the id
  * Bloom filter are read once per bind, so every route answers as the
  * per-request computation does (parity), the counter routes and
  * filtered-out ids start no Spark job after first use (job count), and
  * rows added to a bound parquet directory change no answer, as they
  * changed none when every request scanned (freshness). */
class ApiSnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("api-snapshot-spec", "4").getOrCreate()

  private val Now = 1700000000L
  private val root = java.nio.file.Files.createTempDirectory("api-snapshot-spec")

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
      ()
    }
    rm(root.toFile)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  /** 2,000 jobs with mixed-case statuses (`RUNNING`/`running`, ...), a
   * null status every seventh row and one null jobId. */
  private def rows(from: Int, until: Int): Seq[EtlJob] = (from until until).map { i =>
    val status = Seq("RUNNING", "running", "COMPLETED", "Completed", "FAILED",
      "PENDING", null)(i % 7)
    EtlJob(if (i == 1234) null else f"job_$i%05d", "FULL_ETL", status, "s", "t",
      ts("2025-09-01 10:00:00"), Some(ts("2025-09-01 10:00:01")),
      Option.when(i % 3 == 0)(ts("2025-09-01 10:30:01")),
      Option.when(i % 5 == 0)(s"error $i"),
      recordsProcessed = i * 10L, recordsSuccessful = i * 9L,
      recordsFailed = i.toLong)
  }

  private def parquetJobs(name: String, jobs: Seq[EtlJob]): String = {
    import spark.implicits._
    val path = root.resolve(name).toString
    jobs.toDF().write.parquet(path)
    path
  }

  private lazy val jobsPath = parquetJobs("jobs", rows(0, 2000))

  private def logs: DataFrame = {
    import spark.implicits._
    Seq(graft.model.LogMessage("job_00001", "ERROR", "db", "boom",
      ts("2025-09-01 10:00:00"))).toDF()
  }

  private def withServer[A](jobs: DataFrame)(f: (String => (Int, String),
      (String, String, Option[String]) => (Int, String)) => A): A = {
    val server = HttpApi.start(0, spark, jobs, logs, rateRules = Nil,
      clock = () => Now)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def call(method: String, path: String, body: Option[String]) = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
      b.method(method, body.fold(HttpRequest.BodyPublishers.noBody())(
        HttpRequest.BodyPublishers.ofString))
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try f(p => call("GET", p, None), call)
    finally HttpApi.stop(server)
  }

  /** The counters as the routes computed them per request before the
   * snapshot: one `groupBy(lower(status))` over the frame. */
  private def counts(jobs: DataFrame): (Long, Long, Long, Long) = {
    val c = jobs.groupBy(lower(col("status"))).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (c.values.sum, c.getOrElse("running", 0L), c.getOrElse("completed", 0L),
      c.getOrElse("failed", 0L))
  }

  private def counterBodies(get: String => (Int, String)): Seq[String] =
    Seq("/api/monitor/metrics", "/api/health/metrics", "/api/health/jobs")
      .map { p =>
        val (code, body) = get(p)
        assert(code == 200, s"$p: $code $body")
        // the health routes also report the time and the JVM's load
        if (p == "/api/monitor/metrics") body
        else body.substring(body.indexOf("\"jobs\":"))
      }

  test("snapshot parity: counters, hits, misses, PUT and POST-created ids answer as a per-request scan") {
    val jobs = spark.read.parquet(jobsPath)
    val (total, running, completed, failed) = counts(jobs)
    // the fixture exercises the case fold and the null group
    assert(total == 2000 && running == 572 && completed == 572 && failed == 286)
    withServer(jobs) { (get, call) =>
      assert(counterBodies(get) == Seq(
        s"""{"total_jobs":$total,"running_jobs":$running,""" +
          s""""completed_jobs":$completed,"failed_jobs":$failed}""",
        s""""jobs":{"total":$total,"running":$running,""" +
          s""""completed":$completed,"failed":$failed}}}""",
        s""""jobs":{"total":$total,"running":$running,""" +
          s""""completed":$completed,"failed":$failed,""" +
          s""""etl_manager_available":true}}"""))
      // hits: the body is the row that JobQueries.byId finds
      (0 until 2000 by 250).map(i => f"job_$i%05d").foreach { id =>
        val row = JobQueries.byId(jobs, id).collect().head
        assert(get(s"/api/jobs/$id/status") == (200 -> HttpApi.jobStatusJson(row, Now)))
        assert(get(s"/api/jobs/$id/metrics") == (200 -> HttpApi.jobMetricsJson(row, Now)))
        assert(call("PUT", s"/api/jobs/$id", Some("""{"status":"cancelled"}""")) ==
          (200 -> s"""{"job_id":"$id","status":"updated"}"""))
      }
      // 1,000 misses, enough that some pass the 1% filter and take the
      // scan (up to two jobs each; without the filter every miss
      // scanned): every one is a 404, as JobQueries.byId finds no row
      val misses = (0 until 1000).map(i => s"job_miss_$i")
      assert(JobQueries.byId(jobs, misses.head).isEmpty)
      val scanJobs = org.apache.spark.sql.graftbridge.JobProbe.jobsStarted(spark) {
        misses.foreach { id =>
          assert(get(s"/api/jobs/$id/status") == (404 -> """{"error":"Job not found"}"""))
        }
      }
      assert(scanJobs > 0 && scanJobs <= 60,
        s"$scanJobs Spark jobs for 1,000 misses; the filter passes about 1%")
      Seq("metrics" -> "GET", "" -> "PUT").foreach { case (suffix, method) =>
        val path = s"/api/jobs/${misses.last}" + (if (suffix.isEmpty) "" else s"/$suffix")
        assert(call(method, path, Some("""{"status":"x"}""")) ==
          (404 -> """{"error":"Job not found"}"""), path)
      }
      // POST-created ids live in the scheduled buffer, not the frame
      (1 to 3).foreach { _ =>
        val (code, body) = call("POST", "/api/jobs",
          Some("""{"type":"DATA_SYNC","source_config":"s","target_config":"t"}"""))
        assert(code == 200, body)
        val id = MiniJson.topLevelString(body, "job_id").get
        assert(JobQueries.byId(jobs, id).isEmpty)
        assert(get(s"/api/jobs/$id/status") ==
          (200 -> HttpApi.scheduledStatusJson(id, "scheduled", "DATA_SYNC")))
        assert(get(s"/api/jobs/$id/metrics") ==
          (200 -> HttpApi.scheduledMetricsJson(id, "scheduled")))
        assert(call("PUT", s"/api/jobs/$id", Some("""{"config":"c"}"""))._1 == 200)
      }
    }
  }

  test("after first use, the counter routes and filtered-out ids start no Spark job") {
    withServer(spark.read.parquet(jobsPath)) { (get, _) =>
      assert(get("/api/monitor/metrics")._1 == 200)
      val misses = Seq("job_none_a", "job_none_b", "job_none_c")
      val jobs = org.apache.spark.sql.graftbridge.JobProbe.jobsStarted(spark) {
        (1 to 5).foreach(_ => counterBodies(get))
        misses.foreach { id =>
          assert(get(s"/api/jobs/$id/status")._1 == 404)
          assert(get(s"/api/jobs/$id/metrics")._1 == 404)
        }
      }
      assert(jobs == 0, s"$jobs Spark jobs for 15 counter reads and 6 misses")
      // a hit still scans the frame
      val hit = org.apache.spark.sql.graftbridge.JobProbe.jobsStarted(spark) {
        assert(get("/api/jobs/job_00042/status")._1 == 200)
      }
      assert(hit >= 1)
    }
  }

  test("the health root answers its active-job count from the snapshot") {
    val jobs = spark.read.parquet(jobsPath)
    // exact status, as QueryApi.health counts: PENDING and RUNNING, not "running"
    val active = jobs.filter(col("status").isin(graft.model.JobStatus.Active: _*)).count()
    assert(active == 571)
    // the gauges that move between two reads
    def steady(body: String) = body.replaceAll("\"memory_(used_mb|pct)\":[^,]*", "")
    val want = steady(QueryApi.health(spark, Some(jobs)).toJSON.collect().head)
    withServer(jobs) { (get, _) =>
      assert(get("/api/health")._1 == 200)
      val started = org.apache.spark.sql.graftbridge.JobProbe.jobsStarted(spark) {
        (1 to 5).foreach { _ =>
          val (code, body) = get("/api/health")
          assert(code == 200 && steady(body) == want, body)
        }
      }
      assert(started == 0, s"$started Spark jobs for 5 health reads")
    }
  }

  test("a parquet file appended to the bound directory changes no answer") {
    val path = parquetJobs("fresh", rows(0, 1000))
    val bound = spark.read.parquet(path)
    withServer(bound) { (get, _) =>
      val probes = Seq("/api/jobs/job_00007/status", "/api/jobs/job_01500/status",
        "/api/jobs/job_01500/metrics", "/api/jobs/job_missing/status")
      def answers = counterBodies(get) ++ probes.map(get(_).toString)
      val before = answers
      assert(before.last.startsWith("(404"))
      import spark.implicits._
      rows(1000, 1700).toDF().write.mode("append").parquet(path)
      // a new read sees the appended rows; the bound frame does not
      assert(spark.read.parquet(path).count() == 1700 && bound.count() == 1000)
      assert(answers == before)
    }
  }
}

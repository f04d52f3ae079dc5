package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.QueryApi
import graft.model.EtlJob

/** Param-compiler surface (§2.11): raw query strings → validated plans →
  * results, with the reference's rejection rules. */
class ApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("api-spec", "4").getOrCreate()

  private def ts(s: String) = Timestamp.valueOf(s)

  private def jobs = {
    import spark.implicits._
    Seq(
      EtlJob("j1", "EXTRACT", "RUNNING", "s", "t", ts("2025-09-01 10:00:00"),
        Some(ts("2025-09-01 10:00:01"))),
      EtlJob("j2", "LOAD", "COMPLETED", "s", "t", ts("2025-09-02 10:00:00"),
        Some(ts("2025-09-02 10:00:01")), Some(ts("2025-09-02 10:30:01")))).toDF()
  }

  test("query string parses and compiles to a filtered result") {
    val r = QueryApi.monitorJobs(jobs, "status=COMPLETED&limit=10")
    assert(r.isRight)
    val rows = r.toOption.get.collect()
    assert(rows.length == 1 && rows.head.getString(0).contains("\"jobId\":\"j2\""))
  }

  test("invalid params are rejected with the reference's rules") {
    assert(QueryApi.monitorJobs(jobs, "status=BOGUS").isLeft)
    assert(QueryApi.monitorJobs(jobs, "limit=0").isLeft)
    assert(QueryApi.monitorJobs(jobs, "limit=9999").isLeft)
    assert(QueryApi.monitorJobs(jobs, "limit=abc").isLeft)
    assert(QueryApi.monitorJobs(jobs,
      "from=2025-09-03T00:00:00&to=2025-09-01T00:00:00").isLeft) // from > to
    assert(QueryApi.monitorJobs(jobs, "from=not-a-date").isLeft)
    // shape-valid but out-of-range components must be rejected, not
    // silently normalized to a later date
    assert(QueryApi.monitorJobs(jobs, "from=2025-13-40T25:61:61").isLeft)
    assert(QueryApi.monitorJobs(jobs, "from=2025-02-30T00:00:00").isLeft)
  }

  test("query-string values are percent-decoded") {
    val p = QueryApi.parseQueryString("q=a%20b%26c&x%3Dy=1&bad=%zz&tag=c%2B%2B&lit=a+b")
    assert(p("q") == "a b&c")
    assert(p("x=y") == "1")
    assert(p("bad") == "%zz")   // malformed escape left as-is
    assert(p("tag") == "c++")   // %2B decodes to plus
    assert(p("lit") == "a+b")   // literal '+' survives (not form-encoding)
  }

  test("time-range params filter on createdAt") {
    val r = QueryApi.monitorJobs(jobs,
      "from=2025-09-01T00:00:00&to=2025-09-01T23:59:59")
    assert(r.toOption.get.count() == 1)
  }

  test("HTTP wire: real GETs against the bound REST surface") {
    import spark.implicits._
    val logs = Seq(
      graft.model.LogMessage("j1", "ERROR", "db", "boom", ts("2025-09-01 10:00:00")),
      graft.model.LogMessage("j1", "INFO", "db", "fine", ts("2025-09-01 10:00:01"))).toDF()
    val server = graft.api.HttpApi.start(0, spark, jobs, logs)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    def get(path: String): (Int, String) = {
      val conn = new java.net.URL(base + path).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        val code = conn.getResponseCode
        val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = if (in == null) ""
          else try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        (code, body)
      } finally conn.disconnect()
    }
    try {
      val (c1, b1) = get("/api/monitor/jobs?status=COMPLETED&limit=10")
      assert(c1 == 200 && b1.startsWith("[{") && b1.contains("\"jobId\":\"j2\"")
        && !b1.contains("\"j1\""), s"$c1 $b1")
      // the validator's rejection comes back as a 400 JSON error envelope
      val (c2, b2) = get("/api/monitor/jobs?limit=0")
      assert(c2 == 400 && b2.contains("\"error\""), s"$c2 $b2")
      val (c3, b3) = get("/api/logs/search?minLevel=WARN&q=boo")
      assert(c3 == 200 && b3.contains("boom") && !b3.contains("fine"), s"$c3 $b3")
      val (c4, b4) = get("/api/logs/search?sortBy=bogus")
      assert(c4 == 400 && b4.contains("invalid sortBy"), s"$c4 $b4")
      val (c5, b5) = get("/api/health")
      assert(c5 == 200 && b5.contains("\"spark_alive\":true"), s"$c5 $b5")
      assert(b5.contains("\"active_jobs\":1"), b5) // j1 is RUNNING
    } finally graft.api.HttpApi.stop(server)
  }

  test("HTTP wire: /api/monitor/perf serves the reference's Prometheus shape") {
    import spark.implicits._
    val logs = Seq(graft.model.LogMessage(
      "j1", "INFO", "db", "ok", ts("2025-09-01 10:00:00"))).toDF()
    val server = graft.api.HttpApi.start(0, spark, jobs, logs)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // three requests land in the counters before the scrape
      (1 to 3).foreach(_ => request(base, "GET", "/api/monitor/status"))
      val (code, text, headers) = request(base, "GET", "/api/monitor/perf")
      assert(code == 200)
      assert(headers.get("Content-type").orElse(headers.get("Content-Type"))
        .exists(_.startsWith("text/plain; version=0.0.4")), headers.toString)
      // the reference's 11 series, in its order, each with HELP+TYPE
      val series = Seq("http_requests_total", "http_requests_active",
        "http_request_duration_ms", "http_connections_reused_total",
        "http_connections_total", "http_connection_timeouts_total",
        "http_request_timeouts_total", "http_connection_reuse_rate",
        "http_requests_per_second", "http_request_duration_p95_ms",
        "http_request_duration_p99_ms")
      val idx = series.map(s => text.indexOf(s"# HELP $s "))
      assert(idx.forall(_ >= 0), s"missing HELP lines in:\n$text")
      assert(idx == idx.sorted, "series out of reference order")
      series.foreach { s =>
        assert(text.contains(s"# TYPE $s "), s"missing TYPE for $s")
      }
      // counter values: the scrape itself is request #4 and is ACTIVE
      // while the body renders (start/end bracket the whole exchange)
      assert(text.linesIterator.exists(_.matches("http_requests_total 4")), text)
      assert(text.linesIterator.exists(_.matches("http_requests_active 1")), text)
      // JSON twin: getMetricsAsJson field set (request #5)
      val (cj, bj, _) = request(base, "GET", "/api/monitor/perf?format=json")
      assert(cj == 200 && bj.contains("\"totalRequests\":5") &&
        bj.contains("\"p95ResponseTime\":") &&
        bj.contains("\"requestsPerSecond\":"), s"$cj $bj")
    } finally graft.api.HttpApi.stop(server)
  }

  test("HTTP wire: keep-alive responses do not stall on a delayed ACK") {
    // The JDK server sends headers and body as two segments; with Nagle on,
    // the body waits ~40 ms for the client's delayed ACK. HttpApi turns
    // TCP_NODELAY on before the first JDK server of the JVM is created —
    // every server in this suite run, StreamingSpec's sinks included,
    // goes through HttpApi.loopbackServer, so suite order cannot matter.
    import spark.implicits._
    val logs = Seq(graft.model.LogMessage(
      "j1", "INFO", "db", "ok", ts("2025-09-01 10:00:00"))).toDF()
    val server = graft.api.HttpApi.start(0, spark, jobs, logs, rateRules = Nil)
    val http = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(
      s"http://127.0.0.1:${server.getAddress.getPort}/api/monitor/status")).GET().build()
    def timedGet(): Double = {
      val t0 = System.nanoTime()
      val r = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode == 200 && r.body.contains("\"server_status\""), r.body)
      (System.nanoTime() - t0) / 1e6
    }
    try {
      (1 to 5).foreach(_ => timedGet()) // connection set-up and warm-up
      val ms = (1 to 30).map(_ => timedGet()).sorted
      val p50 = ms(14) // nearest rank: ceil(0.5 * 30) = 15th
      assert(p50 < 20.0, f"p50 $p50%.1f ms over 30 keep-alive GETs: ${ms.mkString(",")}")
    } finally graft.api.HttpApi.stop(server)
  }

  test("PerfMonitor: percentile matches the reference's index formula") {
    val pm = new graft.api.PerfMonitor()
    // durations 1..100 → sorted; reference index = p*(n-1):
    // p95 → idx 94 → value 95; p99 → idx 98 → value 99
    (1L to 100L).foreach { d => pm.requestStart(); pm.requestEnd(d) }
    assert(pm.percentileMs(0.95) == 95L)
    assert(pm.percentileMs(0.99) == 99L)
    assert(pm.total == 100L && pm.active == 0L)
    assert(math.abs(pm.averageMs - 50.5) < 1e-9)
    // ring cap: the 10000 NEWEST samples survive (the reference keeps
    // the most recent 10000, performance_monitor.hpp:133-141)
    (101L to 10300L).foreach { d => pm.requestStart(); pm.requestEnd(d) }
    assert(pm.percentileMs(0.0) == 301L, "oldest retained sample")
    // requests/sec is the reference's INTEGER division — whole number,
    // never fractional or scientific notation (hpp:192-200)
    var now = 0L
    val pm2 = new graft.api.PerfMonitor(() => now)
    (1 to 7).foreach { _ => pm2.requestStart(); pm2.requestEnd(1L) }
    now = 900000000L // <1 s elapsed → 0 (reference guards elapsed > 0)
    assert(pm2.requestsPerSecond == 0L)
    now = 2000000000L // 7 reqs / 2 whole seconds → 3 (truncated)
    assert(pm2.requestsPerSecond == 3L)
  }

  private def request(base: String, method: String, path: String,
      body: Option[String] = None, headers: Map[String, String] = Map.empty)
      : (Int, String, Map[String, String]) = {
    val conn = new java.net.URL(base + path).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      body.foreach { b =>
        conn.setDoOutput(true)
        val out = conn.getOutputStream
        try out.write(b.getBytes("UTF-8")) finally out.close()
      }
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val text = if (in == null) ""
        else try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      import scala.jdk.CollectionConverters._
      val hs = conn.getHeaderFields.asScala.collect {
        case (k, v) if k != null => k -> v.get(0)
      }.toMap
      (code, text, hs)
    } finally conn.disconnect()
  }

  private def users = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq(("u1", "alice", "pw1", "salt1", true, "alice@example.com"),
      ("u2", "bob", "pw2", "salt2", false, "bob@example.com"))
      .toDF("user_id", "username", "password", "password_salt",
        "is_active", "email")
      .withColumn("password_hash", graft.operators.Sessions
        .passwordHash(col("password"), col("password_salt")))
      .drop("password")
  }

  test("HTTP wire: auth, jobs CRUD, monitor, WS filters (all groups bound)") {
    import spark.implicits._
    val logs = Seq(
      graft.model.LogMessage("j1", "ERROR", "db", "boom", ts("2025-09-01 10:00:00"))).toDF()
    // functional pass: rate limiting disabled so request counts here can't
    // interfere (the 429 contract has its own server below)
    val server = graft.api.HttpApi.start(0, spark, jobs, logs, Some(users),
      rateRules = Nil, clock = () => 1700000000L)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // -- auth group --
      val (cBad, bBad, _) = request(base, "POST", "/api/auth/login",
        Some("""{"username":"alice","password":"wrong"}"""))
      assert(cBad == 401 && bBad.contains("Invalid username or password"))
      // inactive accounts don't authenticate even with the right password
      val (cInact, _, _) = request(base, "POST", "/api/auth/login",
        Some("""{"username":"bob","password":"pw2"}"""))
      assert(cInact == 401)
      val (cNoBody, _, _) = request(base, "POST", "/api/auth/login", Some("{}"))
      assert(cNoBody == 400)
      val (cOk, bOk, _) = request(base, "POST", "/api/auth/login",
        Some("""{"username":"alice","password":"pw1"}"""))
      assert(cOk == 200 && bOk.contains("\"token_type\":\"Bearer\"")
        && bOk.contains("\"user_id\":\"u1\""), s"$cOk $bOk")
      val token = graft.functions.MiniJson.topLevelString(bOk, "token").get
      val (cProf, bProf, _) = request(base, "GET", "/api/auth/profile",
        headers = Map("Authorization" -> s"Bearer $token"))
      assert(cProf == 200 && bProf.contains("alice@example.com"), s"$cProf $bProf")
      val (cAnon, _, _) = request(base, "GET", "/api/auth/profile")
      assert(cAnon == 401)
      val (cForged, _, _) = request(base, "GET", "/api/auth/profile",
        headers = Map("Authorization" -> ("Bearer " + token.dropRight(2) + "xx")))
      assert(cForged == 401)
      val auth = Map("Authorization" -> s"Bearer $token")
      val (cOut, bOut, _) = request(base, "POST", "/api/auth/logout",
        headers = auth)
      assert(cOut == 200 && bOut.contains("Logged out successfully"))

      // -- JWT middleware: protected prefixes reject anonymous calls --
      // (reference isProtectedEndpoint: /api/logs, /api/monitor,
      // /api/auth/profile, /api/auth/logout; /api/jobs and /api/health
      // stay open)
      Seq("/api/logs/search?minLevel=WARN", "/api/monitor/jobs?limit=10",
        "/api/monitor/status").foreach { p =>
        val (c, _, _) = request(base, "GET", p)
        assert(c == 401, s"anonymous $p should be 401, got $c")
      }
      val (cAuthed, _, _) = request(base, "GET", "/api/monitor/status",
        headers = auth)
      assert(cAuthed == 200)

      // -- jobs CRUD group --
      val (cList, bList, _) = request(base, "GET", "/api/jobs")
      assert(cList == 200 && bList.contains("\"id\":\"j1\"")
        && bList.contains("\"status\":\"completed\""), s"$cList $bList")
      val (cCreateBad, _, _) = request(base, "POST", "/api/jobs", Some("{}"))
      assert(cCreateBad == 400)
      val (cCreate, bCreate, _) = request(base, "POST", "/api/jobs",
        Some("""{"type":"FULL_ETL","source_config":"s","target_config":"t"}"""))
      assert(cCreate == 200 && bCreate.contains("\"status\":\"scheduled\""))
      val newId = graft.functions.MiniJson.topLevelString(bCreate, "job_id").get
      val (_, bList2, _) = request(base, "GET", "/api/jobs")
      assert(bList2.contains(s"\"id\":\"$newId\""), bList2)
      val (cUpd, bUpd, _) = request(base, "PUT", s"/api/jobs/j1",
        Some("""{"status":"cancelled"}"""))
      assert(cUpd == 200 && bUpd.contains("\"status\":\"updated\""))
      // config-only update is valid; type-only is not (reference
      // validateJobUpdateRequest: at least one of status/config)
      val (cUpdCfg, _, _) = request(base, "PUT", "/api/jobs/j1",
        Some("""{"config":"new_cfg"}"""))
      assert(cUpdCfg == 200)
      val (cUpdType, _, _) = request(base, "PUT", "/api/jobs/j1",
        Some("""{"type":"FULL_ETL"}"""))
      assert(cUpdType == 400)
      val (cUpdBadId, _, _) = request(base, "PUT", "/api/jobs/bad%20id",
        Some("""{"status":"x"}"""))
      assert(cUpdBadId == 400)
      // unicode letters must not pass the ASCII job-id gate
      val (cUpdUni, _, _) = request(base, "PUT", "/api/jobs/job%C3%A9",
        Some("""{"status":"x"}"""))
      assert(cUpdUni == 400)
      // creation requires a whitelisted type AND both configs
      val (cCreateNoCfg, _, _) = request(base, "POST", "/api/jobs",
        Some("""{"type":"FULL_ETL"}"""))
      assert(cCreateNoCfg == 400)
      val (cCreateBadType, _, _) = request(base, "POST", "/api/jobs",
        Some("""{"type":"BOGUS","source_config":"s","target_config":"t"}"""))
      assert(cCreateBadType == 400)
      val (cSt, bSt, _) = request(base, "GET", "/api/jobs/j1/status")
      assert(cSt == 200 && bSt.contains("\"jobId\":\"j1\"")
        && bSt.contains("\"executionTimeMs\":"), s"$cSt $bSt")
      val (cMet, bMet, _) = request(base, "GET", "/api/jobs/j2/metrics")
      assert(cMet == 200 && bMet.contains("\"successRate\":")
        && bMet.contains("\"processingRate\":"), s"$cMet $bMet")
      val (c404, _, _) = request(base, "GET", "/api/jobs/nope/status")
      assert(c404 == 404)
      // a POST-created job resolves through the scheduled buffer (the
      // reference resolves created jobs through the ETL manager)
      val (cStSched, bStSched, _) =
        request(base, "GET", s"/api/jobs/$newId/status")
      assert(cStSched == 200 && bStSched.contains("\"status\":\"scheduled\"")
        && bStSched.contains("\"type\":\"FULL_ETL\""), s"$cStSched $bStSched")
      val (cMetSched, bMetSched, _) =
        request(base, "GET", s"/api/jobs/$newId/metrics")
      assert(cMetSched == 200
        && bMetSched.contains("\"executionTimeMs\":0"), s"$cMetSched $bMetSched")
      val (cPutSched, _, _) = request(base, "PUT", s"/api/jobs/$newId",
        Some("""{"status":"cancelled"}"""))
      assert(cPutSched == 200)
      // well-formed but unknown id: 404 from PUT, not a blind "updated"
      val (cPut404, _, _) = request(base, "PUT", "/api/jobs/ghost",
        Some("""{"status":"x"}"""))
      assert(cPut404 == 404)

      // -- monitor group (protected -> authenticated calls) --
      val (cMs, bMs, _) = request(base, "GET", "/api/monitor/status",
        headers = auth)
      assert(cMs == 200 && bMs.contains("\"server_status\":\"running\"")
        && bMs.contains("\"etl_manager_running\":true"))
      val (cMm, bMm, _) = request(base, "GET", "/api/monitor/metrics",
        headers = auth)
      assert(cMm == 200 && bMm.contains("\"total_jobs\":2")
        && bMm.contains("\"running_jobs\":1")
        && bMm.contains("\"completed_jobs\":1"), s"$cMm $bMm")

      // -- WS filter REST group --
      val (cSet, bSet, _) = request(base, "PUT", "/api/ws/filters/c1",
        Some("""{"jobIds":["job_1"],"logLevels":["ERROR"],"messageTypes":["JOB_LOG_MESSAGE"],"includeSystemNotifications":false}"""))
      assert(cSet == 200 && bSet.contains("\"jobIds\":[\"job_1\"]"), s"$cSet $bSet")
      val (cGetF, bGetF, _) = request(base, "GET", "/api/ws/filters/c1")
      assert(cGetF == 200 && bGetF.contains("\"logLevels\":[\"ERROR\"]"))
      val (cTest1, bTest1, _) = request(base, "POST", "/api/ws/filters/c1/test",
        Some("""{"msgType":"JOB_LOG_MESSAGE","targetJobId":"job_1","targetLevel":"ERROR"}"""))
      assert(cTest1 == 200 && bTest1.contains("\"matches\":true"))
      val (cTest2, bTest2, _) = request(base, "POST", "/api/ws/filters/c1/test",
        Some("""{"msgType":"JOB_LOG_MESSAGE","targetJobId":"job_2","targetLevel":"ERROR"}"""))
      assert(cTest2 == 200 && bTest2.contains("\"matches\":false"))
      val (cTpl, bTpl, _) = request(base, "POST",
        "/api/ws/filters/c2/template/errors-only", Some(""))
      assert(cTpl == 200 && bTpl.contains("FATAL"), s"$cTpl $bTpl")
      val (cTplBad, _, _) = request(base, "POST",
        "/api/ws/filters/c2/template/nope", Some(""))
      assert(cTplBad == 400)
      val (cStats, bStats, _) = request(base, "GET", "/api/ws/filters/stats")
      assert(cStats == 200 && bStats.contains("\"n_connections\":2")
        && bStats.contains("errors-only"), s"$cStats $bStats")
      val (cClr, bClr, _) = request(base, "DELETE", "/api/ws/filters/c1")
      assert(cClr == 200 && bClr.contains("\"jobIds\":[]"))
      val (_, bGetF2, _) = request(base, "GET", "/api/ws/filters/c1")
      assert(bGetF2.contains("\"includeSystemNotifications\":true"))

      // -- health sub-endpoints (reference: request_handler.cpp:1489-1820) --
      val (cHs, bHs, _) = request(base, "GET", "/api/health/status")
      assert(cHs == 200 && bHs.contains("\"status\":\"healthy\"")
        && bHs.contains("\"components\":{\"database\""), s"$cHs $bHs")
      val (cHr, bHr, _) = request(base, "GET", "/api/health/ready")
      assert(cHr == 200 && bHr.contains("\"status\":\"ready\""))
      val (cHl, bHl, _) = request(base, "GET", "/api/health/live")
      assert(cHl == 200 && bHl.contains("\"status\":\"alive\"")
        && bHl.contains("\"pid\":"))
      val (cHm, bHm, _) = request(base, "GET", "/api/health/metrics")
      assert(cHm == 200 && bHm.contains("\"jobs\":{\"total\":2"), s"$cHm $bHm")
      val (cHj, bHj, _) = request(base, "GET", "/api/health/jobs")
      assert(cHj == 200 && bHj.contains("\"running\":1")
        && bHj.contains("\"completed\":1"), s"$cHj $bHj")
      Seq("/api/health/database", "/api/health/websocket",
        "/api/health/memory", "/api/health/system").foreach { p =>
        val (c, b, _) = request(base, "GET", p)
        assert(c == 200 && b.contains("\"status\":\"healthy\""), s"$p -> $c $b")
      }
      val (cHx, _, _) = request(base, "GET", "/api/health/nope")
      assert(cHx == 400)
    } finally graft.api.HttpApi.stop(server)
  }

  test("HTTP wire: edge rate limiter returns 429 with the reference headers") {
    import spark.implicits._
    val logs = Seq(
      graft.model.LogMessage("j1", "INFO", "db", "ok", ts("2025-09-01 10:00:00"))).toDF()
    // default reference rules: /api/auth/login is 5/minute; fixed clock
    // keeps all requests in one window
    val server = graft.api.HttpApi.start(0, spark, jobs, logs, Some(users),
      clock = () => 1700000000L)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val results = (1 to 6).map { _ =>
        request(base, "POST", "/api/auth/login",
          Some("""{"username":"alice","password":"wrong"}"""))
      }
      assert(results.take(5).forall(_._1 == 401),
        results.map(_._1).mkString(","))
      val (c6, b6, h6) = results.last
      assert(c6 == 429 && b6.contains("Rate limit exceeded"), s"$c6 $b6")
      assert(h6.get("X-ratelimit-limit").orElse(h6.get("X-RateLimit-Limit"))
        .contains("5"), h6.toString)
      assert(h6.contains("Retry-after") || h6.contains("Retry-After"), h6.toString)
      // an allowed response still exposes the remaining budget
      val (cH, _, hH) = request(base, "GET", "/api/health")
      assert(cH == 200 &&
        hH.get("X-ratelimit-remaining").orElse(hH.get("X-RateLimit-Remaining"))
          .exists(_.toLong < 300L), hH.toString)
    } finally graft.api.HttpApi.stop(server)
  }

  test("WS wire: live RFC 6455 push delivers exactly what q34's routing predicts; 401 unauthenticated") {
    import spark.implicits._
    import graft.model.{ConnectionFilters, MessageType, WebSocketMessage}
    val clock = () => 1700000000L
    val secret = "ws-spec-secret".getBytes("UTF-8")
    // the REST CRUD and the wire transport share ONE filter table
    val filtersRef = new java.util.concurrent.atomic.AtomicReference[
      Seq[ConnectionFilters]](Seq.empty)
    val ws = graft.streaming.WsServer.start(0, secret,
      () => filtersRef.get(), clock)
    val logs = Seq(graft.model.LogMessage("j1", "ERROR", "db", "x",
      ts("2025-09-01 10:00:00"))).toDF()
    val server = graft.api.HttpApi.start(0, spark, jobs, logs, Some(users),
      jwtSecret = secret, rateRules = Nil, clock = clock,
      filtersRef = filtersRef, ws = Some(ws))
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val clients = scala.collection.mutable.ArrayBuffer.empty[java.net.http.WebSocket]
    try {
      val (cOk, bOk, _) = request(base, "POST", "/api/auth/login",
        Some("""{"username":"alice","password":"pw1"}"""))
      assert(cOk == 200, s"$cOk $bOk")
      val token = graft.functions.MiniJson.topLevelString(bOk, "token").get

      // c1 subscribes narrow via the REST CRUD; c2 stays unregistered
      // (empty-filter wildcard)
      val (cSet, _, _) = request(base, "PUT", "/api/ws/filters/c1",
        Some("""{"jobIds":["job_1"],"logLevels":["ERROR"],""" +
          """"messageTypes":["JOB_LOG_MESSAGE"],"includeSystemNotifications":false}"""))
      assert(cSet == 200)

      def listener(q: java.util.concurrent.ConcurrentLinkedQueue[String]) =
        new java.net.http.WebSocket.Listener {
          private val sb = new StringBuilder
          override def onText(w: java.net.http.WebSocket, data: CharSequence,
              last: Boolean): java.util.concurrent.CompletionStage[_] = {
            sb.append(data)
            if (last) { q.add(sb.toString); sb.setLength(0) }
            w.request(1)
            null
          }
        }
      def connect(connId: String,
          q: java.util.concurrent.ConcurrentLinkedQueue[String],
          bearer: Option[String]): java.net.http.WebSocket = {
        val b = java.net.http.HttpClient.newHttpClient().newWebSocketBuilder()
        bearer.foreach(t => b.header("Authorization", s"Bearer $t"))
        val c = b.buildAsync(java.net.URI.create(
          s"ws://127.0.0.1:${ws.port}/ws?connection_id=$connId"),
          listener(q)).join()
        clients += c
        c
      }
      def poll(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
      }

      // unauthenticated upgrade never completes: the server answers 401
      val thrown = intercept[java.util.concurrent.CompletionException] {
        java.net.http.HttpClient.newHttpClient().newWebSocketBuilder()
          .buildAsync(java.net.URI.create(
            s"ws://127.0.0.1:${ws.port}/ws?connection_id=x"),
            listener(new java.util.concurrent.ConcurrentLinkedQueue[String]()))
          .join()
      }
      assert(thrown.getCause.isInstanceOf[java.net.http.WebSocketHandshakeException])

      val got1 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val got2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      connect("c1", got1, Some(token))
      val ws2 = connect("c2", got2, Some(token))
      poll(ws.connectionIds == Seq("c1", "c2"))
      assert(ws.connectionIds == Seq("c1", "c2"), ws.connectionIds.toString)

      val t0 = ts("2025-09-01 10:00:00")
      val msgs = Seq(
        WebSocketMessage(MessageType.JobLogMessage, t0, "m1", Some("job_1"), Some("ERROR")),
        WebSocketMessage(MessageType.JobLogMessage, t0, "m2", Some("job_2"), Some("ERROR")),
        WebSocketMessage(MessageType.JobLogMessage, t0, "m3", Some("job_1"), Some("INFO")),
        WebSocketMessage(MessageType.JobStatusUpdate, t0, "m4", Some("job_1"), None),
        WebSocketMessage(MessageType.SystemNotification, t0, "m5", None, None))
      msgs.foreach(ws.broadcast)

      // the ORACLE for the live pushes: q34's routing join over the same
      // events and the same filter table (plus c2's wildcard default,
      // which is exactly what the broadcaster substitutes)
      val events = msgs.map(m => (m.msgType, m.data, m.targetJobId, m.targetLevel))
        .toDF("msgType", "data", "targetJobId", "targetLevel")
      val subs = graft.streaming.FilterManager.toDF(
        filtersRef.get() ++ Seq(ConnectionFilters("c2")))(spark)
      val predicted = graft.streaming.Routing.route(events, subs)
        .select("connectionId", "data").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      def received(q: java.util.concurrent.ConcurrentLinkedQueue[String],
          conn: String): Set[(String, String)] =
        q.toArray(Array.empty[String]).map(p =>
          (conn, graft.functions.MiniJson.topLevelString(p, "data").get)).toSet
      poll(got1.size + got2.size >= predicted.size)
      assert(received(got1, "c1") ++ received(got2, "c2") == predicted,
        s"live=${received(got1, "c1") ++ received(got2, "c2")} vs q34=$predicted")
      assert(received(got1, "c1") == Set(("c1", "m1")))

      // the pushed frame carries the reference's message shape
      val frame = got1.peek()
      assert(frame.contains("\"type\":\"JOB_LOG_MESSAGE\"")
        && frame.contains("\"jobId\":\"job_1\"")
        && frame.contains("\"level\":\"ERROR\""), frame)

      // real delivery counters behind the health endpoints
      val (cHm, bHm, _) = request(base, "GET", "/api/health/metrics")
      assert(cHm == 200 &&
        bHm.contains(s"\"messages_sent\":${predicted.size}"), s"$cHm $bHm")
      val (cHw, bHw, _) = request(base, "GET", "/api/health/websocket")
      assert(cHw == 200 && bHw.contains("\"connections\":2"), s"$cHw $bHw")

      // close handshake: the registry drops the connection
      ws2.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "bye").join()
      poll(ws.connectionIds == Seq("c1"))
      assert(ws.connectionIds == Seq("c1"), ws.connectionIds.toString)
    } finally {
      clients.foreach(c => c.abort())
      ws.close()
      graft.api.HttpApi.stop(server)
    }
  }

  test("WS push: a streaming query's micro-batches reach live clients; cap drops deterministically") {
    import spark.implicits._
    import graft.model.{ConnectionFilters, MessageType}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val clock = () => 1700000000L
    val secret = "ws-push-secret".getBytes("UTF-8")
    // c1 narrow, c2 wildcard (no registered filters)
    val filtersRef = new java.util.concurrent.atomic.AtomicReference[
      Seq[ConnectionFilters]](Seq(ConnectionFilters("c1",
        jobIds = Seq("job_1"), logLevels = Seq("ERROR"),
        messageTypes = Seq(MessageType.JobLogMessage),
        includeSystemNotifications = false)))
    val ws = graft.streaming.WsServer.start(0, secret,
      () => filtersRef.get(), clock)
    val clients = scala.collection.mutable.ArrayBuffer.empty[java.net.http.WebSocket]
    try {
      val token = graft.functions.Jwt.issueJvm("u1", "alice",
        clock(), clock() + 3600, secret)
      def listener(q: java.util.concurrent.ConcurrentLinkedQueue[String]) =
        new java.net.http.WebSocket.Listener {
          private val sb = new StringBuilder
          override def onText(w: java.net.http.WebSocket, data: CharSequence,
              last: Boolean): java.util.concurrent.CompletionStage[_] = {
            sb.append(data)
            if (last) { q.add(sb.toString); sb.setLength(0) }
            w.request(1)
            null
          }
        }
      val got1 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val got2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      Seq("c1" -> got1, "c2" -> got2).foreach { case (id, q) =>
        clients += java.net.http.HttpClient.newHttpClient()
          .newWebSocketBuilder()
          .header("Authorization", s"Bearer $token")
          .buildAsync(java.net.URI.create(
            s"ws://127.0.0.1:${ws.port}/ws?connection_id=$id"),
            listener(q)).join()
      }
      def poll(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
      }
      poll(ws.connectionIds == Seq("c1", "c2"))

      val t0 = ts("2025-09-01 10:00:00")
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[(String, java.sql.Timestamp, String,
        Option[String], Option[String])]
      val q = stream.toDF()
        .toDF("msgType", "timestamp", "data", "targetJobId", "targetLevel")
        .writeStream
        .outputMode("append")
        .foreachBatch(graft.streaming.WsPush.sink(ws, maxPerBatch = 3) _)
        .start()
      try {
        val dropped0 = graft.streaming.WsPush.droppedTotal.get()
        // batch 1: under the cap — everything routes
        stream.addData(
          (MessageType.JobLogMessage, t0, "m1", Some("job_1"), Some("ERROR")),
          (MessageType.JobLogMessage, t0, "m2", Some("job_2"), Some("ERROR")),
          (MessageType.SystemNotification, t0, "m3", None, None))
        q.processAllAvailable()
        def data(qq: java.util.concurrent.ConcurrentLinkedQueue[String]) =
          qq.toArray(Array.empty[String]).map(p =>
            graft.functions.MiniJson.topLevelString(p, "data").get).toSet
        poll(got2.size >= 3 && got1.size >= 1)
        // c1's narrow filter admits only m1; c2's wildcard takes all
        // (m3 is a system notification — wildcard includes those)
        assert(data(got1) == Set("m1"), data(got1).toString)
        assert(data(got2) == Set("m1", "m2", "m3"), data(got2).toString)
        assert(graft.streaming.WsPush.droppedTotal.get() == dropped0)
        // batch 2: 5 rows against cap 3 — the deterministic head
        // (earliest timestamp, ties by payload) is pushed, 2 counted
        val t1 = ts("2025-09-01 10:00:01")
        stream.addData(
          (MessageType.JobLogMessage, t1, "z-late", Some("job_1"), Some("ERROR")),
          (MessageType.JobLogMessage, t0, "a1", Some("job_1"), Some("ERROR")),
          (MessageType.JobLogMessage, t0, "a2", Some("job_1"), Some("ERROR")),
          (MessageType.JobLogMessage, t0, "a3", Some("job_1"), Some("ERROR")),
          (MessageType.JobLogMessage, t1, "z-later", Some("job_1"), Some("ERROR")))
        q.processAllAvailable()
        poll(data(got1).size >= 4)
        assert(graft.streaming.WsPush.droppedTotal.get() == dropped0 + 2)
        assert(data(got1) == Set("m1", "a1", "a2", "a3"), data(got1).toString)
      } finally q.stop()
    } finally {
      clients.foreach(_.abort())
      ws.close()
    }
  }

  test("WS wire: frame length encodings — 125B inline, 64KB 2-byte, >64KB 8-byte — arrive intact") {
    import graft.model.{ConnectionFilters, MessageType, WebSocketMessage}
    val clock = () => 1700000000L
    val secret = "ws-frame-secret".getBytes("UTF-8")
    val ws = graft.streaming.WsServer.start(0, secret,
      () => Seq.empty[ConnectionFilters], clock)
    val clients = scala.collection.mutable.ArrayBuffer.empty[java.net.http.WebSocket]
    try {
      val token = graft.functions.Jwt.issueJvm("u1", "alice",
        clock(), clock() + 3600, secret)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      clients += java.net.http.HttpClient.newHttpClient()
        .newWebSocketBuilder()
        .header("Authorization", s"Bearer $token")
        .buildAsync(java.net.URI.create(
          s"ws://127.0.0.1:${ws.port}/ws?connection_id=big"),
          new java.net.http.WebSocket.Listener {
            private val sb = new StringBuilder
            override def onText(w: java.net.http.WebSocket, data: CharSequence,
                last: Boolean): java.util.concurrent.CompletionStage[_] = {
              sb.append(data)
              if (last) { got.add(sb.toString); sb.setLength(0) }
              w.request(1)
              null
            }
          }).join()
      def poll(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
      }
      poll(ws.connectionIds == Seq("big"))
      val t0 = ts("2025-09-01 10:00:00")
      // three payload sizes straddling the RFC 6455 length encodings:
      // < 126 inline, 126..65535 two-byte, > 65535 eight-byte
      val payloads = Seq("x" * 50, "y" * 60000, "z" * 70000)
      payloads.foreach(p => ws.broadcast(
        WebSocketMessage(MessageType.SystemNotification, t0, p)))
      poll(got.size >= 3)
      val datas = got.toArray(Array.empty[String])
        .map(f => graft.functions.MiniJson.topLevelString(f, "data").get)
      assert(datas.toSet == payloads.toSet,
        datas.map(d => (d.take(1), d.length)).mkString(","))
    } finally {
      clients.foreach(_.abort())
      ws.close()
    }
  }

  test("log search params compile, bad sortBy/levels rejected") {
    import spark.implicits._
    val logs = Seq(
      graft.model.LogMessage("j1", "ERROR", "db", "boom", ts("2025-09-01 10:00:00")),
      graft.model.LogMessage("j1", "INFO", "db", "fine", ts("2025-09-01 10:00:01"))).toDF()
    val ok = QueryApi.logSearch(logs, "minLevel=WARN&q=boo&sortBy=level")
    assert(ok.isRight && ok.toOption.get.count() == 1)
    assert(QueryApi.logSearch(logs, "sortBy=bogus").isLeft)
    assert(QueryApi.logSearch(logs, "minLevel=LOUD").isLeft)
    assert(QueryApi.logSearch(logs, "maxResults=x").isLeft)
  }
}

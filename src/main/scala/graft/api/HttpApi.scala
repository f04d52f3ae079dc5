package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.{Jwt, MiniJson}
import graft.model.ConnectionFilters
import graft.streaming.{FilterManager, RateLimiter}

/** The thin HTTP wire over the §2.11 surface — the last layer of the
  * reference's REST stack (reference: src/http_server.cpp routing,
  * src/request_handler.cpp:488-508 route table; :638-830 auth;
  * :918-1015 point status/metrics; :1020-1138 jobs list/create/update;
  * :1172-1318 monitor/jobs; :1320-1353 monitor status/metrics;
  * :1489-1820 health; include/websocket_filter_manager.hpp:26-100 the
  * WS-filter REST ops). Everything below the route handler — param
  * parse, validation, the compiled query plan, the JSON row shape —
  * lives in [[QueryApi]] / [[graft.operators.Sessions]] /
  * [[graft.streaming.FilterManager]] and is oracle-/spec-verified; this
  * file only binds sockets, which is why the JDK's built-in server
  * suffices (no dependency, loopback-testable in a no-egress sandbox).
  *
  * Response sizes are bounded BY THE VALIDATOR (limit/maxResults ≤ 1000,
  * reference: src/input_validator.cpp:782-795), so the driver-side
  * collect in each handler is the reference's own REST contract, not a
  * scale hazard: this surface serves operators' dashboards, not bulk
  * export — bulk egress is the job of the sinks (parquet/JDBC/log
  * shipping), never the REST layer.
  *
  * Rate limiting is enforced AT THE EDGE (reference:
  * src/rate_limiter.cpp:12-22 defaults, createRateLimitResponse headers):
  * every request passes the [[RateLimiter.EdgeRateLimiter]] before its
  * handler runs; denials are 429 with X-RateLimit-Limit / -Remaining /
  * -Reset and Retry-After.
  *
  * Sockets run with TCP_NODELAY. The JDK server writes a response's
  * headers and body as two segments; with Nagle's algorithm on, the body
  * waits for the client's delayed ACK of the headers, about 40 ms on
  * Linux, on every keep-alive response. The JDK reads its switch, the
  * system property `sun.net.httpserver.nodelay`, once, when its
  * `ServerConfig` class first initialises (at the first
  * `HttpServer.create` in the JVM). This object therefore sets it to
  * `true`, unless the process already set it, before it creates any
  * server; [[loopbackServer]] is the one place servers are created, and
  * other code that binds a JDK server in the same JVM should go through
  * it so the switch is in place whichever server comes first.
  */
object HttpApi {

  private val NoDelayProperty = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelayProperty) == null)
    System.setProperty(NoDelayProperty, "true")

  /** An unstarted JDK server on 127.0.0.1 (`port` 0 picks an ephemeral
    * port), created after this object has set the no-delay switch. */
  private[graft] def loopbackServer(port: Int): HttpServer =
    HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)

  /** Process-default JWT secret for dev/test binds; production callers
    * pass their own. */
  private val DefaultSecret = "graft-dev-jwt-secret".getBytes("UTF-8")

  /** JWT TTL matches the session TTL (reference:
    * src/auth_manager.cpp:212 / getJWTExpiryHours — 24 h). */
  private val TokenTtlSeconds: Long = 24L * 3600

  /** Bind and start. `port` 0 picks an ephemeral port (tests); the
    * returned server reports it via `getAddress.getPort`. `jobs` and
    * `logs` are the prepared frames the routes query, read as of bind:
    * the server answers as if neither frame changes while it is bound.
    * A parquet-path frame fixes its file listing when it is created and
    * a local `Seq(...).toDF` frame never changes, so both meet this; to
    * serve newer data, bind a new frame. The filtered routes (monitor
    * jobs, log search, job hits) plan per request with the caller's
    * filters pushed down; requests that differ only in their values
    * reuse one generated class when `spark` was built by
    * [[graft.core.GraftSession.builder]], which hoists primitive
    * literals out of the generated code. The job-status counts (monitor
    * and health metrics, the health root's active jobs) and a Bloom
    * filter over the job ids are read once per
    * bind, on first use, and shared by every request after it: an id
    * the filter rules out answers from the scheduled-job buffer or 404
    * without a Spark job. `users` (user_id,
    * username, password_hash, password_salt, is_active, optionally
    * email/created_at) backs the auth group; without it auth returns
    * 401 like the reference's ETL_ENABLE_JWT=off build. `rateRules`
    * Nil disables edge limiting (unit tests that hammer one route). */
  def start(port: Int, spark: SparkSession, jobs: DataFrame,
      logs: DataFrame, users: Option[DataFrame] = None,
      jwtSecret: Array[Byte] = DefaultSecret,
      rateRules: Seq[RateLimiter.RateRule] = RateLimiter.DefaultRules,
      clock: () => Long = () => System.currentTimeMillis() / 1000,
      filtersRef: java.util.concurrent.atomic.AtomicReference[
        Seq[ConnectionFilters]] =
        new java.util.concurrent.atomic.AtomicReference(Seq.empty),
      ws: Option[graft.streaming.WsServer.Server] = None)
      : HttpServer = {
    val server = loopbackServer(port)
    val limiter =
      if (rateRules.isEmpty) None
      else Some(new RateLimiter.EdgeRateLimiter(rateRules, clock))
    // request-level perf metrics for /api/monitor/perf (the reference's
    // PerformanceMonitor surface); every handled exchange is recorded
    val perf = new PerfMonitor()

    // -- control-plane state owned by this bind ------------------------
    // WS filter table: one row per live connection (reference keeps it in
    // WebSocketFilterManager); scheduled-job buffer: POST /api/jobs.
    // `filtersRef` is shared with the WS wire transport when one is
    // bound (WsServer.start's `filters` supplier), so the REST CRUD
    // below mutates the routing the live push layer reads.
    val filters = filtersRef
    val scheduled =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[(String, String, String)]())  // (id, status, type)
    val jobSeq = new java.util.concurrent.atomic.AtomicLong(0L)
    // POST-created jobs live only in this buffer until an ETL run lands
    // them in the frame — status/metrics/PUT must resolve them here too,
    // as the reference resolves created jobs through the ETL manager
    def scheduledJob(id: String): Option[(String, String, String)] =
      scheduled.toArray(Array.empty[(String, String, String)]).find(_._1 == id)

    // JWT middleware (reference: request_handler.cpp:216-228
    // isProtectedEndpoint + :471-486): with auth enabled (a users table
    // bound), these prefixes require a valid bearer token. /api/jobs is
    // NOT in the reference's list (it guards "/api/etl/jobs", a path its
    // router never serves) — mirrored faithfully. Without a users table
    // (the ETL_ENABLE_JWT=off build) nothing is gated.
    val protectedPrefixes =
      Seq("/api/logs", "/api/monitor", "/api/auth/profile", "/api/auth/logout")
    def authorized(ex: HttpExchange): Boolean =
      users.isEmpty ||
        !protectedPrefixes.exists(ex.getRequestURI.getPath.startsWith) ||
        bearerSubject(ex, jwtSecret, clock()).isDefined

    def ctx(path: String)(body: HttpExchange => (Int, String)): Unit = {
      server.createContext(path, (ex: HttpExchange) =>
        handle(ex, limiter, perf)(
          if (!authorized(ex)) (401, errJson("Authentication required"))
          else body(ex)))
      ()
    }

    // -- monitor + logs + health (the original three groups) -----------

    ctx("/api/monitor/jobs") { ex =>
      QueryApi.monitorJobs(jobs, rawQuery(ex)) match {
        case Right(df) =>
          // monitorJobsJson emits one pre-rendered JSON object per row
          (200, "[" + df.collect().map(_.getString(0)).mkString(",") + "]")
        case Left(err) => (400, errJson(err))
      }
    }

    ctx("/api/monitor/status") { _ =>
      val alive = !spark.sparkContext.isStopped
      (200, s"""{"server_status":"running","db_connected":$alive,""" +
        s""""etl_manager_running":$alive}""")
    }

    // the jobs frame as of bind, read once by whichever request needs it
    // first (the lazy val blocks concurrent first requests on one build)
    lazy val snapshot = new JobsSnapshot(jobs)

    def jobCounts(): (Long, Long, Long, Long) = {
      val counts = snapshot.counts
      (counts.valuesIterator.sum, counts.getOrElse("running", 0L),
        counts.getOrElse("completed", 0L), counts.getOrElse("failed", 0L))
    }

    def jobRow(id: String): Option[Row] =
      if (!snapshot.mayHold(id)) None
      else jobs.filter(col("jobId") === lit(id)).limit(1).collect().headOption

    ctx("/api/monitor/metrics") { _ =>
      val (total, running, completed, failed) = jobCounts()
      (200, s"""{"total_jobs":$total,"running_jobs":$running,""" +
        s""""completed_jobs":$completed,"failed_jobs":$failed}""")
    }

    // Request-level performance export — the reference's
    // getMetricsAsPrometheus / getMetricsAsJson pair
    // (performance_monitor.hpp:262-366): Prometheus text exposition by
    // default, the JSON shape under ?format=json. Under /api/monitor,
    // so the JWT middleware guards it like the rest of the group.
    ctx("/api/monitor/perf") { ex =>
      if (rawQuery(ex).split("&").contains("format=json")) (200, perf.json)
      else {
        ex.getResponseHeaders.set("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        (200, perf.prometheus)
      }
    }

    ctx("/api/logs/search") { ex =>
      QueryApi.logSearch(logs, rawQuery(ex)) match {
        case Right(df) => (200, "[" + df.toJSON.collect().mkString(",") + "]")
        case Left(err) => (400, errJson(err))
      }
    }

    // The reference's 10 health sub-endpoints
    // (src/request_handler.cpp:1489-1820), re-expressed with engine
    // analogs: "database" = the Spark session/catalog backing every
    // query, "websocket" = the live WS filter table, system/memory =
    // JVM runtime metrics, jobs = status counts over the jobs frame.
    val startedEpoch = clock()
    ctx("/api/health") { ex =>
      val path = ex.getRequestURI.getPath
      val now = clock()
      val alive = !spark.sparkContext.isStopped
      val rt = Runtime.getRuntime
      val usedBytes = rt.totalMemory() - rt.freeMemory()
      val load = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val cpu = if (load < 0) 0.0 else load
      def dbJson =
        s"""{"connected":$alive,"pool_healthy":$alive}"""
      def wsJson =
        s"""{"running":true,"connections":${filters.get().size}}"""
      path.stripPrefix("/api/health") match {
        case "" =>
          // a local row rendered on the driver: no Spark job
          (200, QueryApi.health(spark, snapshot.active).collect().head.json)
        case "/status" =>
          (200, s"""{"status":"${if (alive) "healthy" else "degraded"}",""" +
            s""""timestamp":"$now","version":"1.0.0",""" +
            s""""uptime":${now - startedEpoch},""" +
            s""""components":{"database":$dbJson,"websocket":$wsJson,""" +
            s""""system":{"cpu_usage":$cpu,"memory_usage":$usedBytes}}}""")
        case "/ready" =>
          (200, s"""{"status":"${if (alive) "ready" else "not_ready"}",""" +
            s""""timestamp":"$now","database":$dbJson,"websocket":$wsJson}""")
        case "/live" =>
          (200, s"""{"status":"alive","timestamp":"$now",""" +
            s""""pid":${ProcessHandle.current().pid()},""" +
            s""""memory":{"used_bytes":$usedBytes,"cpu_percent":$cpu}}""")
        case "/metrics" =>
          val (total, running, completed, failed) = jobCounts()
          // messages_sent: the reference's own endpoint hardcodes 0 here
          // (src/request_handler.cpp:1350-1352); with a live WS bind the
          // real delivery counter stands behind it (the A13 running-
          // counter family — same number q51's observe() path computes)
          val wsSent = ws.map(_.messagesSent).getOrElse(0L)
          (200, s"""{"status":"healthy","timestamp":"$now","metrics":{""" +
            s""""cpu_usage":$cpu,"memory_usage":$usedBytes,""" +
            s""""database":{"connections_active":${spark.sparkContext.defaultParallelism},"connections_idle":0,"connection_timeouts":0},""" +
            s""""websocket":{"connections":${filters.get().size},"messages_sent":$wsSent,"messages_queued":0},""" +
            s""""jobs":{"total":$total,"running":$running,"completed":$completed,"failed":$failed}}}""")
        case "/database" =>
          (200, s"""{"status":"${if (alive) "healthy" else "unhealthy"}",""" +
            s""""timestamp":"$now","database":{"connected":$alive,""" +
            s""""pool_healthy":$alive,""" +
            s""""active_connections":${spark.sparkContext.defaultParallelism},""" +
            s""""idle_connections":0,"total_connections":${spark.sparkContext.defaultParallelism},""" +
            s""""connection_timeouts":0,"average_wait_time_ms":0}}""")
        case "/websocket" =>
          val live = ws.map(_.connectionIds.size).getOrElse(filters.get().size)
          (200, s"""{"status":"healthy","timestamp":"$now",""" +
            s""""websocket":{"running":true,"connections":$live,""" +
            s""""pool_size":${filters.get().size},"active_sessions":$live,""" +
            s""""messages_sent":${ws.map(_.messagesSent).getOrElse(0L)},""" +
            s""""messages_queued":0,""" +
            s""""broadcast_errors":${ws.map(_.broadcastErrors).getOrElse(0L)}}}""")
        case "/memory" =>
          (200, s"""{"status":"healthy","timestamp":"$now",""" +
            s""""memory":{"process_used_bytes":$usedBytes,""" +
            s""""system_used_bytes":$usedBytes,"system_cpu_percent":$cpu,""" +
            s""""process_cpu_percent":$cpu}}""")
        case "/system" =>
          (200, s"""{"status":"healthy","timestamp":"$now",""" +
            s""""system":{"cpu_usage_percent":$cpu,""" +
            s""""memory_used_bytes":$usedBytes,""" +
            s""""process_memory_bytes":$usedBytes,""" +
            s""""uptime_seconds":${now - startedEpoch},""" +
            s""""process_id":${ProcessHandle.current().pid()}}}""")
        case "/jobs" =>
          val (total, running, completed, failed) = jobCounts()
          (200, s"""{"status":"healthy","timestamp":"$now",""" +
            s""""jobs":{"total":$total,"running":$running,""" +
            s""""completed":$completed,"failed":$failed,""" +
            s""""etl_manager_available":true}}""")
        case _ => (400, errJson("Invalid health endpoint"))
      }
    }

    // -- auth (reference: src/request_handler.cpp:638-830) -------------

    ctx("/api/auth") { ex =>
      val path = ex.getRequestURI.getPath
      val method = ex.getRequestMethod
      (method, path) match {
        case ("POST", "/api/auth/login") =>
          val body = readBody(ex)
          (MiniJson.topLevelString(body, "username"),
            MiniJson.topLevelString(body, "password")) match {
            case (Some(u), Some(p)) =>
              users.flatMap(lookupUser(_, u)) match {
                case Some(row) if authOk(row, p) =>
                  val uid = row.getAs[Any]("user_id").toString
                  val now = clock()
                  val token = Jwt.issueJvm(uid, u, now,
                    now + TokenTtlSeconds, jwtSecret)
                  (200, s"""{"token":${quote(token)},""" +
                    s""""user_id":${quote(uid)},""" +
                    s""""username":${quote(u)},""" +
                    s""""expires_in":$TokenTtlSeconds,""" +
                    s""""token_type":"Bearer"}""")
                case _ => (401, errJson("Invalid username or password"))
              }
            case _ => (400, errJson("Login validation failed"))
          }
        case ("POST", "/api/auth/logout") =>
          (200, """{"message":"Logged out successfully"}""")
        case ("GET", "/api/auth/profile") =>
          bearerSubject(ex, jwtSecret, clock())
            .flatMap(uid => users.flatMap(lookupUserById(_, uid))) match {
            case Some(row) => (200, profileJson(row))
            case None => (401, errJson("Authentication required"))
          }
        case _ => (400, errJson("Invalid auth endpoint"))
      }
    }

    // -- ETL jobs (reference: src/request_handler.cpp:918-1138) --------

    ctx("/api/jobs") { ex =>
      val path = ex.getRequestURI.getPath
      val method = ex.getRequestMethod
      val rest = path.stripPrefix("/api/jobs").stripPrefix("/")
      (method, rest) match {
        case ("GET", "") =>
          val listed = jobs.select(col("jobId"), lower(col("status")).as("s"))
            .collect()
            .map(r => s"""{"id":${quote(r.getString(0))},"status":${quote(r.getString(1))}}""")
          val extra = {
            val it = scheduled.toArray(Array.empty[(String, String, String)])
            it.map { case (id, st, _) =>
              s"""{"id":${quote(id)},"status":${quote(st)}}"""
            }
          }
          (200, """{"jobs":[""" + (listed ++ extra).mkString(",") + "]}")
        case ("POST", "") =>
          // reference validation (input_validator.cpp:242-272): type from
          // the job-type whitelist plus source_config and target_config
          val body = readBody(ex)
          val typeOk = MiniJson.topLevelString(body, "type").exists(
            Set("FULL_ETL", "INCREMENTAL_ETL", "DATA_SYNC", "VALIDATION"))
          val cfgOk = MiniJson.topLevelString(body, "source_config")
            .exists(_.nonEmpty) &&
            MiniJson.topLevelString(body, "target_config").exists(_.nonEmpty)
          if (!typeOk || !cfgOk)
            (400, errJson("Job creation validation failed"))
          else {
            val id = s"job_${clock()}_${jobSeq.getAndIncrement()}"
            scheduled.add((id, "scheduled",
              MiniJson.topLevelString(body, "type").getOrElse("")))
            (200, s"""{"job_id":${quote(id)},"status":"scheduled"}""")
          }
        case ("GET", p) if p.endsWith("/status") =>
          val id = p.stripSuffix("/status")
          if (!validJobId(id)) (400, errJson("Invalid job ID format"))
          else jobRow(id) match {
            case Some(r) => (200, jobStatusJson(r, clock()))
            case None => scheduledJob(id) match {
              case Some((_, st, tpe)) =>
                (200, scheduledStatusJson(id, st, tpe))
              case None => (404, errJson("Job not found"))
            }
          }
        case ("GET", p) if p.endsWith("/metrics") =>
          val id = p.stripSuffix("/metrics")
          if (!validJobId(id)) (400, errJson("Invalid job ID format"))
          else jobRow(id) match {
            case Some(r) => (200, jobMetricsJson(r, clock()))
            case None => scheduledJob(id) match {
              case Some((_, st, _)) =>
                (200, scheduledMetricsJson(id, st))
              case None => (404, errJson("Job not found"))
            }
          }
        case ("PUT", id) if id.nonEmpty && !id.contains("/") =>
          if (!validJobId(id)) (400, errJson("Invalid job ID format"))
          else if (jobRow(id).isEmpty && scheduledJob(id).isEmpty)
            (404, errJson("Job not found"))
          else {
            // reference (input_validator.cpp:284-299): at least one of
            // status/config must be present
            val body = readBody(ex)
            if (MiniJson.topLevelToken(body, "status").isEmpty &&
              MiniJson.topLevelToken(body, "config").isEmpty)
              (400, errJson("Job update validation failed"))
            else (200, s"""{"job_id":${quote(id)},"status":"updated"}""")
          }
        case _ => (400, errJson("Invalid jobs endpoint"))
      }
    }

    // -- WS filter management REST (reference:
    //    include/websocket_filter_manager.hpp:26-100) ------------------

    ctx("/api/ws/filters") { ex =>
      val path = ex.getRequestURI.getPath
      val method = ex.getRequestMethod
      val rest = path.stripPrefix("/api/ws/filters").stripPrefix("/")
      val parts = rest.split("/", -1).toList
      (method, parts) match {
        case ("GET", "stats" :: Nil) =>
          val subs = filters.get()
          (200, s"""{"n_connections":${subs.size},"templates":[""" +
            FilterManager.Templates.keys.toSeq.sorted
              .map(quote).mkString(",") + "]}")
        case ("GET", conn :: Nil) if conn.nonEmpty =>
          val f = FilterManager.get(filters.get(), conn)
            .getOrElse(ConnectionFilters(conn))
          (200, filterJson(f))
        case ("PUT", conn :: Nil) if conn.nonEmpty =>
          val body = readBody(ex)
          val f = ConnectionFilters(conn,
            MiniJson.topLevelStringArray(body, "jobIds").getOrElse(Seq.empty),
            MiniJson.topLevelStringArray(body, "logLevels").getOrElse(Seq.empty),
            MiniJson.topLevelStringArray(body, "messageTypes").getOrElse(Seq.empty),
            MiniJson.topLevelBoolean(body, "includeSystemNotifications")
              .getOrElse(true))
          filters.updateAndGet(subs => FilterManager.set(subs, f))
          (200, filterJson(f))
        case ("DELETE", conn :: Nil) if conn.nonEmpty =>
          // clear = reset to match-all (reference semantics); ensure the
          // connection exists so a clear after set really resets
          filters.updateAndGet(subs => FilterManager.clear(
            if (FilterManager.get(subs, conn).isDefined) subs
            else FilterManager.set(subs, ConnectionFilters(conn)), conn))
          (200, filterJson(ConnectionFilters(conn)))
        case ("POST", conn :: "template" :: name :: Nil) if conn.nonEmpty =>
          if (!FilterManager.Templates.contains(name))
            (400, errJson(s"unknown template: $name"))
          else {
            // single atomic read-modify-write — a get()/set() pair here
            // would erase concurrent PUTs from other executor threads
            val next = filters.updateAndGet { subs =>
              val withConn =
                if (FilterManager.get(subs, conn).isDefined) subs
                else FilterManager.set(subs, ConnectionFilters(conn))
              FilterManager.applyTemplate(withConn, conn, name)
                .getOrElse(withConn)
            }
            (200, filterJson(FilterManager.get(next, conn).get))
          }
        case ("POST", conn :: "test" :: Nil) if conn.nonEmpty =>
          val body = readBody(ex)
          val msg = graft.model.WebSocketMessage(
            MiniJson.topLevelString(body, "msgType").getOrElse(""),
            new java.sql.Timestamp(clock() * 1000L), "",
            MiniJson.topLevelString(body, "targetJobId"),
            MiniJson.topLevelString(body, "targetLevel"))
          val f = FilterManager.get(filters.get(), conn)
            .getOrElse(ConnectionFilters(conn))
          (200, s"""{"matches":${FilterManager.testFilter(f, msg)}}""")
        case _ => (400, errJson("Invalid ws-filter endpoint"))
      }
    }

    // A small fixed pool: request handling must not serialize on one
    // dispatch thread (a slow driver-side collect would block /api/health
    // exactly when monitors poll). Daemon threads so an un-stopped server
    // never pins the JVM.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      r => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))
    server.start()
    server
  }

  /** Stop the server AND its executor pool — `server.stop` alone leaves
    * the 8 pool threads alive for the JVM's lifetime, which adds up in a
    * driver that binds/stops repeatedly (each test suite bind leaks 8). */
  def stop(server: HttpServer, delaySeconds: Int = 0): Unit = {
    val ex = server.getExecutor
    server.stop(delaySeconds)
    ex match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  // -- request plumbing ------------------------------------------------

  private def rawQuery(ex: HttpExchange): String =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  private def bearerSubject(ex: HttpExchange, secret: Array[Byte],
      nowEpoch: Long): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer "))
      .map(_.substring(7))
      .flatMap(Jwt.subjectJvm(_, secret, nowEpoch))

  /** Uniform envelope: the rate limiter runs first (429 + the reference's
    * X-RateLimit headers on denial); validation failures are 400 with a
    * JSON error (the reference's handleValidationError shape); handler
    * crashes are 500 with a GENERIC body — the exception text goes to the
    * server log, never to the client (path/config disclosure). */
  private def handle(ex: HttpExchange,
      limiter: Option[RateLimiter.EdgeRateLimiter],
      perf: PerfMonitor)
      (body: => (Int, String)): Unit = {
    // perf accounting brackets the WHOLE exchange, 429s and 500s
    // included — the reference's recordRequestStart/End sit at the
    // request boundary the same way
    perf.requestStart()
    val t0 = System.nanoTime()
    try {
      val decision = limiter.map(_.check(
        ex.getRemoteAddress.getAddress.getHostAddress,
        ex.getRequestURI.getPath))
      decision.filter(d => d.limit > 0).foreach { d =>
        ex.getResponseHeaders.set("X-RateLimit-Limit", d.limit.toString)
        ex.getResponseHeaders.set("X-RateLimit-Remaining", d.remaining.toString)
        ex.getResponseHeaders.set("X-RateLimit-Reset", d.resetEpochSeconds.toString)
      }
      val (code, payload) =
        if (decision.exists(!_.allowed)) {
          decision.foreach(d => ex.getResponseHeaders.set(
            "Retry-After", d.retryAfterSeconds.toString))
          (429, errJson("Rate limit exceeded"))
        } else
          try body
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[http] ${ex.getRequestURI} failed: $e")
              (500, errJson("internal server error"))
          }
      val bytes = payload.getBytes("UTF-8")
      // handlers may pre-set Content-Type (the Prometheus exposition);
      // everything else defaults to JSON
      if (ex.getResponseHeaders.getFirst("Content-Type") == null)
        ex.getResponseHeaders.set("Content-Type", "application/json")
      // the write can throw on client disconnect — the exchange must be
      // closed regardless or the connection lingers on the server side
      try {
        ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      } finally ex.close()
    } finally perf.requestEnd((System.nanoTime() - t0) / 1000000L)
  }

  // -- auth/jobs row helpers -------------------------------------------

  /** Job-id charset/length rule — ASCII-only, matching the reference's
    * `^[a-zA-Z0-9_-]{1,64}$` (src/input_validator.cpp:15); Unicode
    * letters/digits must NOT pass. */
  private def validJobId(id: String): Boolean =
    id.nonEmpty && id.length <= 64 && id.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_' || c == '-')

  private def lookupUser(users: DataFrame, username: String): Option[Row] =
    users.filter(col("username") === lit(username)).limit(1)
      .collect().headOption

  private def lookupUserById(users: DataFrame, uid: String): Option[Row] =
    users.filter(col("user_id").cast("string") === lit(uid)).limit(1)
      .collect().headOption

  /** Driver-side mirror of [[graft.operators.Sessions.passwordHash]]
    * (sha256(password || salt), lowercase hex) plus the is_active gate. */
  private def authOk(row: Row, password: String): Boolean = {
    val active = opt(row, "is_active").forall {
      case b: Boolean => b
      case other => other.toString.toBoolean
    }
    val salt = opt(row, "password_salt").map(_.toString).getOrElse("")
    val stored = opt(row, "password_hash").map(_.toString).getOrElse("")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest((password + salt).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    active && stored.nonEmpty &&
      java.security.MessageDigest.isEqual(
        hex.getBytes("UTF-8"), stored.toLowerCase.getBytes("UTF-8"))
  }

  private def opt(row: Row, field: String): Option[Any] =
    if (row.schema.fieldNames.contains(field) &&
      !row.isNullAt(row.fieldIndex(field))) Some(row.getAs[Any](field))
    else None

  private def profileJson(row: Row): String = {
    val uid = opt(row, "user_id").map(_.toString).getOrElse("")
    val name = opt(row, "username").map(_.toString).getOrElse("")
    val email = opt(row, "email").map(_.toString).getOrElse("")
    val active = opt(row, "is_active").map(_.toString).getOrElse("true")
    val created = opt(row, "created_at").map(_.toString).getOrElse("")
    s"""{"user_id":${quote(uid)},"username":${quote(name)},""" +
      s""""email":${quote(email)},"roles":["user"],""" +
      s""""is_active":$active,"created_at":${quote(created)}}"""
  }

  /** False-positive rate of [[JobsSnapshot]]'s id filter: a false
    * positive costs the one-task scan every miss cost without a filter. */
  private val IdFilterFpp = 0.01

  /** Two aggregates over the bound jobs frame: the row count of each
    * exact `status`, folded to lower case here (a null status keeps its
    * own null group), so `counts` equals `groupBy(lower(status))`; and a
    * Bloom filter over a string `jobId` column. `mayHold(id)` false
    * means no row has that id; true means the caller must scan. */
  private final class JobsSnapshot(jobs: DataFrame) {
    private val exact: Map[String, Long] = jobs.groupBy(col("status")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts: Map[String, Long] = exact.groupMapReduce { case (s, _) =>
      Option(s).map(_.toLowerCase(java.util.Locale.ROOT)).orNull }(_._2)(_ + _)
    /** Rows whose status is exactly one of `JobStatus.Active`, as
      * [[QueryApi.health]] counts them. */
    val active: Long = graft.model.JobStatus.Active.map(exact.getOrElse(_, 0L)).sum
    private val total = counts.valuesIterator.sum
    // null ids are skipped by the filter, as `jobId === id` never
    // matches them; a non-string jobId column gets no filter (a string
    // id compares to it through a cast, which the filter cannot mirror)
    private val ids =
      if (total == 0 || !jobs.schema.fields.exists(f =>
          f.name == "jobId" && f.dataType == StringType)) None
      else Some(jobs.stat.bloomFilter("jobId", total, IdFilterFpp))
    def mayHold(id: String): Boolean =
      total > 0 && ids.forall(_.mightContainString(id))
  }

  private def tsMs(row: Row, field: String): Option[Long] =
    opt(row, field).collect { case t: java.sql.Timestamp => t.getTime }

  /** executionTimeMs per the reference: completed−started, or now−started
    * while RUNNING (src/request_handler.cpp:957-965). Case-insensitive,
    * matching jobCounts' lower(status) handling — a job stored as
    * "running" must not report 0 while in flight. */
  private def execMs(row: Row, nowEpoch: Long): Long = {
    val started = tsMs(row, "startedAt")
    val running = opt(row, "status")
      .exists(_.toString.equalsIgnoreCase("RUNNING"))
    val ended =
      if (running) Some(nowEpoch * 1000L)
      else tsMs(row, "completedAt")
    (for (s <- started; e <- ended) yield math.max(0L, e - s)).getOrElse(0L)
  }

  private[api] def jobStatusJson(row: Row, nowEpoch: Long): String = {
    def s(f: String) = opt(row, f).map(_.toString).getOrElse("")
    def n(f: String) = opt(row, f).map(_.toString).getOrElse("0")
    val err = opt(row, "errorMessage").map(_.toString)
      .filter(_.nonEmpty)
      .map(e => s""","errorMessage":${quote(e)}""").getOrElse("")
    s"""{"jobId":${quote(s("jobId"))},"type":${quote(s("jobType"))},""" +
      s""""status":${quote(s("status"))},"createdAt":${quote(s("createdAt"))},""" +
      s""""startedAt":${quote(s("startedAt"))},""" +
      s""""completedAt":${quote(s("completedAt"))},""" +
      s""""recordsProcessed":${n("recordsProcessed")},""" +
      s""""recordsSuccessful":${n("recordsSuccessful")},""" +
      s""""recordsFailed":${n("recordsFailed")}$err,""" +
      s""""executionTimeMs":${execMs(row, nowEpoch)}}"""
  }

  /** processingRate/successRate math per src/request_handler.cpp:984-1001. */
  private[api] def jobMetricsJson(row: Row, nowEpoch: Long): String = {
    def s(f: String) = opt(row, f).map(_.toString).getOrElse("")
    def l(f: String) = opt(row, f).collect { case x: Long => x }.getOrElse(0L)
    val ms = execMs(row, nowEpoch)
    val rate = if (ms > 0) l("recordsProcessed").toDouble / (ms / 1000.0) else 0.0
    val success =
      if (l("recordsProcessed") > 0)
        l("recordsSuccessful").toDouble / l("recordsProcessed") * 100.0
      else 0.0
    s"""{"jobId":${quote(s("jobId"))},""" +
      s""""recordsProcessed":${l("recordsProcessed")},""" +
      s""""recordsSuccessful":${l("recordsSuccessful")},""" +
      s""""recordsFailed":${l("recordsFailed")},""" +
      s""""processingRate":$rate,"successRate":$success,""" +
      s""""executionTimeMs":$ms,"status":${quote(s("status"))}}"""
  }

  /** Status document for a job that exists only in the scheduled buffer
    * (POST-created, no ETL run yet) — same shape as [[jobStatusJson]]
    * with the not-yet-started fields zeroed. */
  private[api] def scheduledStatusJson(id: String, status: String,
      jobType: String): String =
    s"""{"jobId":${quote(id)},"type":${quote(jobType)},""" +
      s""""status":${quote(status)},"createdAt":"","startedAt":"",""" +
      s""""completedAt":"","recordsProcessed":0,"recordsSuccessful":0,""" +
      s""""recordsFailed":0,"executionTimeMs":0}"""

  private[api] def scheduledMetricsJson(id: String, status: String): String =
    s"""{"jobId":${quote(id)},"recordsProcessed":0,""" +
      s""""recordsSuccessful":0,"recordsFailed":0,""" +
      s""""processingRate":0.0,"successRate":0.0,""" +
      s""""executionTimeMs":0,"status":${quote(status)}}"""

  private def filterJson(f: ConnectionFilters): String =
    s"""{"connectionId":${quote(f.connectionId)},""" +
      s""""jobIds":[${f.jobIds.map(quote).mkString(",")}],""" +
      s""""logLevels":[${f.logLevels.map(quote).mkString(",")}],""" +
      s""""messageTypes":[${f.messageTypes.map(quote).mkString(",")}],""" +
      s""""includeSystemNotifications":${f.includeSystemNotifications}}"""

  private def errJson(err: String): String = s"""{"error":${quote(err)}}"""

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
}

package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{HttpApi, QueryApi}
import graft.core.Tables
import graft.functions.MiniJson
import graft.operators.JobQueries

/** A closed loop of `clients` HTTP clients against `graft.api.HttpApi`,
  * edge rate limiting off. The server is bound to a jobs frame (one job per
  * order) and a logs frame (one log line per event), both built here.
  *
  * The clients take their requests from one seeded sequence of decks with
  * a fixed route mix (see [[ApiServing.Deck]]), each deck reshuffled, and
  * a window holds whole decks, so its mix does not depend on the seed.
  * Every response's status must be the one the generator expects (200, 400
  * or 404); after the window a seeded sample of response bodies is
  * re-derived by calling `QueryApi` (or the frame) directly and compared. */
final class ApiServing(clients: Int) extends Workload {
  import ApiServing._

  val name = "api_serving"

  def bind(spark: SparkSession, cfg: Config): Bound = new Bound {
    private val t0 = System.nanoTime()
    private val tables = Tables(spark, cfg.dataDir)
    private val orders = tables.orders
    private val events = tables.events
    /** Schema resolution happens here, once per bind. */
    val schemaMs: Double = Stats.msSince(t0)
    private val jobs = jobsFrame(orders)
    private val logs = logsFrame(events)
    private val orderKeys: Array[Long] =
      orders.select("o_orderkey").collect().map(_.getLong(0)).sorted
    private val server = HttpApi.start(0, spark, jobs, logs, rateRules = Nil)
    private val base = s"http://127.0.0.1:${server.getAddress.getPort}"

    private def send(http: HttpClient, req: Req): Resp = {
      val b = HttpRequest.newBuilder(URI.create(base + req.path))
      req.body match {
        case Some(body) => b.POST(HttpRequest.BodyPublishers.ofString(body))
        case None => b.GET()
      }
      val t = System.nanoTime()
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      Resp(req, r.statusCode(), r.body(), Stats.msSince(t), System.currentTimeMillis())
    }

    /** A transport error is a response with status -1, never an expected one. */
    private def trySend(http: HttpClient, req: Req): Resp =
      try send(http, req) catch { case NonFatal(e) => Resp(req, -1, e.toString, 0.0, System.currentTimeMillis()) }

    private def newClient(): HttpClient =
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    /** One closed-loop client: takes the next request from the shared
      * dealer, sends it, waits, and so on until the dealer runs out.
      * Returns its request rate, over its own time to its last response. */
    private def clientLoop(dealer: Dealer, out: ConcurrentLinkedQueue[Resp]): Double = {
      val http = newClient()
      val t0 = System.nanoTime()
      var n = 0
      var req = dealer.next()
      while (req.isDefined) {
        val r = trySend(http, req.get)
        out.add(r)
        n += 1
        // a created job must resolve on the status read that follows
        if (r.req.route == "jobs_create" && r.status == 200) {
          val id = MiniJson.topLevelString(r.body, "job_id").getOrElse("missing")
          out.add(trySend(http, Req("created_status", s"/api/jobs/$id/status", None, 200)))
          n += 1
        }
        req = dealer.next()
      }
      n / (Stats.msSince(t0) / 1000)
    }

    /** Runs `clients` closed-loop clients on decks dealt while
      * `more(decksDealt)`; returns every response and each client's
      * request rate. */
    private def runClients(seed: Long, more: Int => Boolean): (Vector[Resp], Seq[Double]) = {
      val dealer = new Dealer(new Random(seed), orderKeys, more)
      val out = new ConcurrentLinkedQueue[Resp]()
      val rates = new ConcurrentLinkedQueue[Double]()
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => { rates.add(clientLoop(dealer, out)); () },
          s"perfbench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
      require(rates.size == clients, "a client thread died")
      (out.asScala.toVector, rates.asScala.toSeq)
    }

    private def unexpected(resps: Seq[Resp]): Seq[String] = resps.collect {
      case r if r.status != r.req.expect =>
        s"${r.req.route} ${r.req.path}: status ${r.status}, expected ${r.req.expect}: ${r.body.take(200)}"
      case r if r.req.route == "created_status" && !createdOk(r) =>
        s"created job did not resolve: ${r.req.path} -> ${r.body.take(200)}"
    }

    /** Every route once (a failed request is retried once, then reported);
      * before the window also [[WarmDecks]] decks under the full closed
      * loop, so the window starts with compiled code paths. */
    def warmUp(beforeWindow: Boolean): Seq[String] = {
      val http = newClient()
      val firstTouch = dealDeck(new Random(0L), orderKeys).distinctBy(_.route).flatMap { req =>
        def attempt(): Option[String] = {
          val r = trySend(http, req)
          if (r.status == req.expect) None
          else Some(s"${req.route} ${req.path}: status ${r.status}, expected ${req.expect}")
        }
        attempt().flatMap { first =>
          System.err.println(s"[perfbench] warm-up failed, retrying: $first")
          attempt().map(e => s"warm-up failed twice: $e")
        }
      }
      firstTouch ++ (if (beforeWindow) unexpected(runClients(-1L, _ < WarmDecks)._1) else Nil)
    }

    private def serverPerf(): (Long, Double) = {
      val body = send(newClient(), Req("perf", "/api/monitor/perf?format=json", None, 200)).body
      val total = MiniJson.topLevelLong(body, "totalRequests").getOrElse(0L)
      val avg = MiniJson.topLevelToken(body, "averageResponseTime").map(_.toDouble).getOrElse(0.0)
      (total, avg)
    }

    /** The window is whole decks, so its mix is exact. `ops_per_s` is the
      * sum of the clients' request rates, each over its own time, so no
      * client's idle tail after the last deck counts; latency percentiles
      * are over every request of the window. */
    def measure(seconds: Double, seed: Long, ledger: Option[Ledger]): Window = {
      val perfBefore = serverPerf()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val (resps, rates) = runClients(seed, _ => System.nanoTime() < deadline)
      val windowS = Stats.msSince(t0) / 1000
      val (jobsSeen, qes) = ledger.map(_.take()).getOrElse((Nil, Nil))
      val perfAfter = serverPerf()
      // PerfMonitor counts a request when it starts and averages over the
      // completed ones, so a perf read sees total - 1 completed. Between
      // the two reads the window's requests and the first read complete;
      // that read's own duration (whole ms, normally 0) stays in the sum.
      val done0 = perfBefore._1 - 1
      val done1 = perfAfter._1 - 1
      val serverMs = (perfAfter._2 * done1 - perfBefore._2 * done0) /
        math.max(1L, done1 - done0 - 1)
      val ms = resps.map(_.ms)
      val slices = resps.groupBy(r => ((r.endMs - startMs) / 2000L).toInt).toSeq.sortBy(_._1)
        .map { case (k, rs) => f"$k:${rs.length / 2.0}%.1f/${Stats.percentile(rs.map(_.ms), 0.5)}%.0f" }
      System.err.println(s"[perfbench] 2s slices (req/s / p50 ms): ${slices.mkString(" ")}")
      Window(rates.sum, Stats.percentile(ms, 0.5), Stats.percentile(ms, 0.9),
        resps.length, unexpected(resps), ApiDetail(resps, jobsSeen, qes, serverMs, windowS))
    }

    /** The re-derivation sample's operations, for [[layers]]. */
    private var rederived = Vector.empty[OpRecord]

    def verify(window: Window, seed: Long, ledger: Option[Ledger]): Checks = {
      val resps = window.detail.asInstanceOf[ApiDetail].resps
      val rng = new Random(seed)
      val sample = resps.filter(r => r.status == 200 && Checkable(r.req.route))
        .groupBy(_.req.route).toSeq.sortBy(_._1)
        .flatMap { case (_, rs) => rng.shuffle(rs).take(SamplePerRoute) }
      val failures = sample.zipWithIndex.flatMap { case (r, i) =>
        try recheck(r, s"rederive-$i", ledger).map(e => s"${r.req.route} ${r.req.path}: $e")
        catch { case NonFatal(e) => Some(s"${r.req.route} ${r.req.path}: re-derivation threw $e") }
      }
      Checks(sample.length, failures)
    }

    /** Re-derives a sampled response by a direct call, booked as one
      * operation: the `QueryApi` call (or the frame's construction) is its
      * build, the collect its final action. Bodies are compared byte for
      * byte, point lookups field by field. Returns the mismatch, if any. */
    private def recheck(r: Resp, opId: String, ledger: Option[Ledger]): Option[String] = {
      val qs = Option(URI.create(r.req.path).getRawQuery).getOrElse("")
      def op[A](build: => DataFrame)(action: DataFrame => A): A = {
        val (rec, out) = OpRecord.run(spark, r.req.route, opId, ledger)(build)(action)
        rederived :+= rec
        out
      }
      def same(want: String): Option[String] = Option.when(want != r.body)(
        s"body differs from a direct call: got ${r.body.take(160)} want ${want.take(160)}")
      r.req.route match {
        case "monitor_jobs" => same(op(QueryApi.monitorJobs(jobs, qs).fold(sys.error, identity))(
          _.collect().map(_.getString(0)).mkString("[", ",", "]")))
        case "logs_search" => same(op(QueryApi.logSearch(logs, qs).fold(sys.error, identity))(
          _.toJSON.collect().mkString("[", ",", "]")))
        case "monitor_metrics" =>
          val counts = op(jobs.groupBy(lower(col("status"))).count())(_.collect())
            .map(x => x.getString(0) -> x.getLong(1)).toMap
          same(s"""{"total_jobs":${counts.values.sum},"running_jobs":${counts.getOrElse("running", 0L)},""" +
            s""""completed_jobs":${counts.getOrElse("completed", 0L)},"failed_jobs":${counts.getOrElse("failed", 0L)}}""")
        case "job_status" | "job_metrics" =>
          val id = r.req.path.split("/")(3)
          val row = op(JobQueries.byId(jobs, id))(_.collect().head)
          val want = Seq("jobId" -> id, "status" -> row.getAs[String]("status"))
          val wantN = Seq("recordsProcessed", "recordsSuccessful", "recordsFailed")
            .map(f => f -> row.getAs[Long](f))
          val ok = want.forall { case (k, v) => MiniJson.topLevelString(r.body, k).contains(v) } &&
            wantN.forall { case (k, v) => MiniJson.topLevelLong(r.body, k).contains(v) }
          Option.when(!ok)(s"fields differ from JobQueries.byId: want ${want ++ wantN}, got ${r.body.take(160)}")
      }
    }

    def layers(window: Window): Map[String, Metric] = {
      val d = window.detail.asInstanceOf[ApiDetail]
      val layer = requestLayer(d.resps)
      (d.jobs.filter(layer(_) == "unclassified") ++ rederived.flatMap(o => o.jobs.filter(_.op != o.opId)))
        .foreach(j => System.err.println(s"[ledger] unclassified job ${j.id} op='${j.op}' " +
          s"phase='${j.phase}' start=${j.startMs} site=${j.site}"))
      ApiServing.layers(d, schemaMs,
        rederived, org.apache.spark.sql.PerfbenchAccess.cacheEntries(spark),
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
        cfg.cpus)
    }

    /** One root span per request (its id is the op), the window's jobs and
      * planning phases, which the server's threads run untagged, and the
      * re-derivation sample's operations. */
    def spans(window: Window): Seq[Span] = {
      val d = window.detail.asInstanceOf[ApiDetail]
      val layer = requestLayer(d.resps)
      d.resps.zipWithIndex.map { case (r, i) =>
        Span(s"request ${r.req.route}", r.endMs - math.round(r.ms), r.endMs, "", s"req-$i")
      } ++ d.jobs.map(j => Span(s"job ${j.id} ${layer(j)}", j.startMs, j.endMs, "", "")) ++
        d.qes.flatMap(_.phases.map { case (p, s, e) => Span(s"catalyst.$p", s, e, "", "") }) ++
        rederived.flatMap(_.spans)
    }

    def close(): Unit = HttpApi.stop(server)
  }
}

object ApiServing {
  final case class Req(route: String, path: String, body: Option[String], expect: Int)
  /** One response; `endMs` is its epoch completion time. */
  final case class Resp(req: Req, status: Int, body: String, ms: Double, endMs: Long)
  final case class ApiDetail(resps: Seq[Resp], jobs: Seq[Ledger.JobRec],
      qes: Seq[Ledger.QeRec], serverMs: Double, windowS: Double)

  val Routes: Seq[String] = Seq("monitor_jobs", "job_status", "job_metrics",
    "logs_search", "monitor_metrics", "jobs_create", "created_status",
    "bad_request", "unknown_id")
  private val Checkable = Set("monitor_jobs", "logs_search", "monitor_metrics",
    "job_status", "job_metrics")
  private val SamplePerRoute = 4
  private val WarmDecks = 2

  /** Deals whole decks from one seeded sequence to all clients: the next
    * deck is dealt, when the current one is used up, while
    * `more(decksDealt)`. */
  final class Dealer(rng: Random, keys: Array[Long], more: Int => Boolean) {
    private var hand = Iterator.empty[Req]
    private var dealt = 0
    def next(): Option[Req] = synchronized {
      if (!hand.hasNext && more(dealt)) { hand = dealDeck(rng, keys).iterator; dealt += 1 }
      hand.nextOption()
    }
  }

  /** One deck: 28 draws, 29 requests (the create is followed by a status
    * read of the new id). The route groups' shares are the reference's
    * per-client rate caps (src/rate_limiter.cpp:12-22, ported as
    * `graft.streaming.RateLimiter.DefaultRules` and listed in BASELINE.md):
    * `/api/monitor` 120, `/api/logs` 60 and `/api/jobs` 30 requests a
    * minute, so 16 : 8 : 4 draws, the mix of a client that uses its whole
    * allowance. The caps are per group, not per route, so within a group
    * the draws are split evenly over the group's routes (`monitor_jobs`
    * takes the odd one), and each group's share holds one request that
    * expects an error: an invalid parameter (400) for the monitor and log
    * groups, an unknown job id (404) for the jobs group. */
  val Deck: Seq[String] =
    Seq.fill(8)("monitor_jobs") ++ Seq.fill(7)("monitor_metrics") ++ Seq("bad_monitor") ++
      Seq.fill(7)("logs_search") ++ Seq("bad_logs") ++
      Seq("job_status", "job_metrics", "jobs_create", "unknown_id")

  private val Statuses = Seq("COMPLETED", "PENDING", "FAILED")
  private val Types = graft.model.JobType.All
  private val Components = Seq("signup", "click", "error", "view", "purchase")

  /** Deals one deck. Each optional parameter of a route is set on exactly
    * half of that route's draws in the deck (which ones, and its value,
    * are seeded), so the cost mix of a window does not depend on the seed
    * either. */
  def dealDeck(rng: Random, keys: Array[Long]): Seq[Req] = {
    def halves(route: String): Iterator[Boolean] = {
      val n = Deck.count(_ == route)
      rng.shuffle(Seq.tabulate(n)(_ % 2 == 0)).iterator
    }
    def cycle[A](route: String, values: Seq[A]): Iterator[A] =
      rng.shuffle(Seq.tabulate(Deck.count(_ == route))(i => values(i % values.length))).iterator
    val (jStatus, jType, jWindow) = (halves("monitor_jobs"), halves("monitor_jobs"), halves("monitor_jobs"))
    val jLimit = cycle("monitor_jobs", Seq(10, 50, 100))
    val (lLevel, lComp, lWindow, lDesc) =
      (halves("logs_search"), halves("logs_search"), halves("logs_search"), halves("logs_search"))
    val lMax = cycle("logs_search", Seq(20, 100))
    rng.shuffle(Deck).map {
      case "monitor_jobs" =>
        val ps = Seq(
          Option.when(jStatus.next())(s"status=${Statuses(rng.nextInt(Statuses.length))}"),
          Option.when(jType.next())(s"type=${Types(rng.nextInt(Types.length))}"),
          Option.when(jWindow.next()) {
            val y = 1995 + rng.nextInt(6)
            s"from=$y-01-01T00:00:00&to=${y + 1}-06-30T23:59:59"
          },
          Some(s"limit=${jLimit.next()}")).flatten
        Req("monitor_jobs", "/api/monitor/jobs?" + ps.mkString("&"), None, 200)
      case "job_status" =>
        Req("job_status", s"/api/jobs/job_${keys(rng.nextInt(keys.length))}/status", None, 200)
      case "job_metrics" =>
        Req("job_metrics", s"/api/jobs/job_${keys(rng.nextInt(keys.length))}/metrics", None, 200)
      case "logs_search" =>
        val day = 1 + rng.nextInt(28)
        val ps = Seq(
          Option.when(lLevel.next())(s"minLevel=${Seq("INFO", "WARN", "ERROR")(rng.nextInt(3))}"),
          Option.when(lComp.next())(s"component=${Components(rng.nextInt(Components.length))}"),
          Option.when(lWindow.next())(f"startTime=2024-01-$day%02dT00:00:00&endTime=2024-01-${day + 2}%02dT23:59:59"),
          Option.when(lDesc.next())("order=desc"),
          Some(s"maxResults=${lMax.next()}")).flatten
        Req("logs_search", "/api/logs/search?" + ps.mkString("&"), None, 200)
      case "monitor_metrics" => Req("monitor_metrics", "/api/monitor/metrics", None, 200)
      case "jobs_create" =>
        Req("jobs_create", "/api/jobs", Some(
          """{"type":"FULL_ETL","source_config":"s3://in/a","target_config":"s3://out/b"}"""), 200)
      case "bad_monitor" =>
        if (rng.nextBoolean()) Req("bad_request", "/api/monitor/jobs?limit=5000", None, 400)
        else Req("bad_request", "/api/monitor/jobs?status=BOGUS", None, 400)
      case "bad_logs" =>
        if (rng.nextBoolean()) Req("bad_request", "/api/logs/search?sortBy=bogus", None, 400)
        else Req("bad_request", "/api/logs/search?minLevel=BOGUS", None, 400)
      case "unknown_id" =>
        Req("unknown_id", s"/api/jobs/job_9${rng.nextInt(1000000)}999/status", None, 404)
    }
  }

  private def createdOk(r: Resp): Boolean = {
    val id = r.req.path.split("/")(3)
    MiniJson.topLevelString(r.body, "jobId").contains(id) &&
      MiniJson.topLevelString(r.body, "status").contains("scheduled")
  }

  /** One job per order. Status and type are functions of the order's
    * status and priority; no job is RUNNING, so every body is a pure
    * function of the frame (a RUNNING job's execution time reads the
    * clock). */
  def jobsFrame(orders: DataFrame): DataFrame = orders.select(
    concat(lit("job_"), col("o_orderkey")).as("jobId"),
    when(col("o_orderpriority").startsWith("1"), "EXTRACT")
      .when(col("o_orderpriority").startsWith("2"), "TRANSFORM")
      .when(col("o_orderpriority").startsWith("3"), "LOAD")
      .otherwise("FULL_ETL").as("jobType"),
    when(col("o_orderstatus") === "F", "COMPLETED")
      .when(col("o_orderstatus") === "O", "PENDING")
      .otherwise("FAILED").as("status"),
    col("o_orderdate").cast("timestamp").as("createdAt"),
    col("o_orderdate").cast("timestamp").as("startedAt"),
    when(col("o_orderstatus") =!= "O",
      col("o_orderdate").cast("timestamp") + expr("INTERVAL 30 MINUTES")).as("completedAt"),
    when(col("o_orderstatus") === "P", lit("transform step failed")).as("errorMessage"),
    (col("o_orderkey") % 10000).cast("long").as("recordsProcessed"),
    (col("o_orderkey") % 9000).cast("long").as("recordsSuccessful"),
    (col("o_orderkey") % 1000).cast("long").as("recordsFailed"))

  /** One log line per event; level from the event's value. */
  def logsFrame(events: DataFrame): DataFrame = events.select(
    concat(lit("job_"), col("event_id")).as("jobId"),
    when(col("value") > 90, "ERROR").when(col("value") > 60, "WARN")
      .otherwise("INFO").as("level"),
    col("event_type").as("component"),
    col("props").as("message"),
    col("ts").as("timestamp"),
    concat(lit("t"), col("user_id") % 8).as("threadId"))

  /** The HTTP layer's metrics on a workload without one: all 0. */
  val NoHttpLayer: Map[String, Metric] =
    (Routes.flatMap(r => Seq(s"api.client_ms.$r.p50", s"api.client_ms.$r.p90")) ++
      Seq("api.server_ms", "api.http_overhead_ms")).map(_ -> Metric(0.0, "ms")).toMap +
      ("api.jobs_per_request" -> Metric(0.0, "count"))

  /** Layer of a window job. The HTTP server's threads run untagged, so a
    * job is a request's final action when its call site is in the server's
    * handlers and it started while one of `resps` was in flight (1 ms of
    * slack for the clocks' whole-ms reads); any other job no harness
    * operation tagged is `unclassified`. */
  def requestLayer(resps: Seq[Resp]): Ledger.JobRec => String = {
    val inFlight = resps.map(r => (r.endMs - math.ceil(r.ms).toLong - 1, r.endMs + 1))
    j => if (j.core) "core"
      else if (j.api && inFlight.exists { case (s, e) => s <= j.startMs && j.startMs <= e }) "exec"
      else "unclassified"
  }

  /** Routes whose re-derivation builds through `QueryApi`: the build layer
    * of this workload. */
  private val BuildRoutes = Set("monitor_jobs", "logs_search")

  /** `rederived` are the traced re-derivation operations; the build-layer
    * figures come from those that call `QueryApi`, the accounting checks
    * from all of them. */
  def layers(d: ApiDetail, schemaMs: Double,
      rederived: Seq[OpRecord], cacheEntries: Int, cacheBytes: Long,
      cpus: Int): Map[String, Metric] = {
    val n = math.max(1, d.resps.length).toDouble
    def perReq(x: Double) = x / n
    val layer = requestLayer(d.resps)
    val core = d.jobs.filter(layer(_) == "core")
    val exec = d.jobs.filter(layer(_) == "exec")
    def execSum(f: Ledger.JobRec => Double) = perReq(exec.map(f).sum)
    val clientMean = Stats.mean(d.resps.map(_.ms))
    val byRoute = Routes.flatMap { route =>
      val ms = d.resps.filter(_.req.route == route).map(_.ms)
      val (p50, p90) = if (ms.isEmpty) (0.0, 0.0)
        else (Stats.percentile(ms, 0.5), Stats.percentile(ms, 0.9))
      Seq(s"api.client_ms.$route.p50" -> Metric(p50, "ms"),
        s"api.client_ms.$route.p90" -> Metric(p90, "ms"))
    }
    val built = rederived.filter(o => BuildRoutes(o.query))
    def buildMean(f: OpRecord => Double) = Stats.mean(built.map(f))
    val windowMs = d.windowS * 1000
    Map(
      "core.schema_jobs" -> Metric(perReq(core.length), "count"),
      "core.schema_ms" -> Metric(schemaMs, "ms"),
      "queries.build_ms" -> Metric(buildMean(_.buildMs), "ms"),
      "queries.build_self_ms" -> Metric(buildMean(_.buildSelfMs), "ms"),
      "queries.build_jobs" -> Metric(buildMean(_.layerJobs("queries").length), "count"),
      "queries.build_share" -> Metric(
        if (built.isEmpty) 0.0 else built.map(_.buildMs).sum / built.map(_.wallMs).sum, "frac"),
      "catalyst.analysis_ms" -> Metric(perReq(d.qes.map(_.analysisMs.toDouble).sum), "ms"),
      "catalyst.optimization_ms" -> Metric(perReq(d.qes.map(_.optimizationMs.toDouble).sum), "ms"),
      "catalyst.planning_ms" -> Metric(perReq(d.qes.map(_.planningMs.toDouble).sum), "ms"),
      "exec.ms" -> Metric(execSum(_.durationMs.toDouble), "ms"),
      "exec.jobs" -> Metric(perReq(exec.length), "count"),
      "exec.stages" -> Metric(execSum(_.stages), "count"),
      "exec.tasks" -> Metric(execSum(_.tasks), "count"),
      "exec.task_run_ms" -> Metric(execSum(_.taskRunMs.toDouble), "ms"),
      "exec.task_cpu_ms" -> Metric(execSum(_.taskCpuNs / 1e6), "ms"),
      "exec.core_util" -> Metric(exec.map(_.taskRunMs.toDouble).sum / (windowMs * cpus), "frac"),
      "exec.sched_delay_ms" -> Metric(execSum(_.schedDelayMs.toDouble), "ms"),
      "exec.shuffle_write_bytes" -> Metric(execSum(_.shuffleWriteBytes.toDouble), "bytes"),
      "exec.shuffle_read_bytes" -> Metric(execSum(_.shuffleReadBytes.toDouble), "bytes"),
      "exec.spill_bytes" -> Metric(execSum(_.spillBytes.toDouble), "bytes"),
      "exec.gc_ms" -> Metric(execSum(_.gcMs.toDouble), "ms"),
      "exec.input_bytes" -> Metric(execSum(_.inputBytes.toDouble), "bytes"),
      "spark.jobs_per_op" -> Metric(perReq(d.jobs.length), "count"),
      "spark.job_ms_p50" -> Metric(
        if (d.jobs.isEmpty) 0.0 else Stats.percentile(d.jobs.map(_.durationMs.toDouble), 0.5), "ms"),
      "cache.entries_left" -> Metric(cacheEntries.toDouble, "count"),
      "cache.bytes_left" -> Metric(cacheBytes.toDouble, "bytes"),
      "api.server_ms" -> Metric(d.serverMs, "ms"),
      "api.http_overhead_ms" -> Metric(clientMean - d.serverMs, "ms"),
      "api.jobs_per_request" -> Metric(perReq(d.jobs.length), "count"),
      "ledger.unattributed_ms" -> Metric(clientMean - perReq(
        d.qes.map(_.totalMs.toDouble).sum + exec.map(_.durationMs.toDouble).sum), "ms"),
      "ledger.layer_overrun_max" -> Metric(
        if (rederived.isEmpty) 0.0 else rederived.map(_.overrun).max, "frac"),
      "ledger.jobs_unclassified" -> Metric(
        d.jobs.count(layer(_) == "unclassified") + rederived.map(_.unclassifiedJobs).sum, "count")
    ) ++ byRoute
  }
}

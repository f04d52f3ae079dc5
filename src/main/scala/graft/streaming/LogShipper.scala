package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.core.Materialize
import graft.operators.LogQuery

/** ST2/S8: multi-destination batched log shipping — the aggregator's
  * queue→worker→filter→batch→ship pipeline as a Structured Streaming
  * `foreachBatch` dispatcher (reference: include/log_aggregator.hpp:24-63,
  * 230-283; worker src/log_aggregator.cpp).
  *
  * Each destination declares the reference's config: allowed levels,
  * allowed components (empty = wildcard), and a writer. The FILE writer is
  * real (JSON-lines partitioned output — at scale this is an append-only
  * date-partitioned parquet/json sink). Network transports are REAL wire
  * writers integration-tested against in-JVM servers (no egress needed):
  * HTTP_ENDPOINT ([[httpEndpointWriter]]), ELASTICSEARCH `_bulk`
  * ([[elasticsearchWriter]]), SPLUNK HEC ([[splunkHecWriter]]), SYSLOG
  * RFC 5424/TCP ([[syslogTcpWriter]]), and CLOUDWATCH PutLogEvents with
  * real SigV4 signing ([[cloudWatchLogsWriter]], [[SigV4]] pinned
  * against the signing spec's published vector) — all in the
  * per-partition executor-side shape. All six reference destination
  * kinds now have real wire writers.
  */
object LogShipper {

  /** Destination config (reference: include/log_aggregator.hpp:40-63). */
  final case class Destination(
      name: String,
      destinationType: String, // FILE | ELASTICSEARCH | HTTP_ENDPOINT | ...
      allowedLevels: Seq[String],
      allowedComponents: Seq[String] = Seq.empty,
      path: Option[String] = None,
      maxRetries: Int = 3,           // reference: log_aggregator.hpp:56
      retryDelayMillis: Long = 5000, // reference: log_aggregator.hpp:57
      // Budget for in-batch retry SLEEPS: retries run inside
      // foreachBatch, so unbounded backoff (up to 5 min/attempt) would
      // head-of-line-block every destination and back up the stream.
      // Once the budget is spent the destination records a failure and
      // the batch moves on (the full unbounded schedule belongs to an
      // out-of-band retry queue like the reference's notification
      // service — Delivery.deliver with default policy).
      maxInlineRetryMillis: Long = 15000
  )

  /** One shipped batch's outcome, for the aggregator stats surface
    * (reference: include/log_aggregator.hpp:203-223). `delivered` is
    * false when the writer exhausted its retries — the batch continues to
    * the remaining destinations regardless. */
  final case class ShipResult(destination: String, batchId: Long, shipped: Long,
      delivered: Boolean = true, attempts: Int = 1)

  type Writer = (DataFrame, Long, Destination) => Unit

  /** FILE destination: append JSON lines under path/destination=name. */
  val fileWriter: Writer = (batch, batchId, dest) => {
    val target = dest.path.getOrElse(
      sys.props("java.io.tmpdir") + s"/graft-logs/${dest.name}")
    batch.select(to_json(struct(batch.columns.map(col): _*)).as("value"))
      .write.mode("append").text(target)
  }

  /** Executor-side network writer: the transport closure is serialized to
    * executors and invoked once per partition with that partition's JSON
    * payload — no driver-side materialization, so a real HTTP/syslog/ES
    * client plugs in here and writes at full cluster parallelism. This is
    * the PRODUCTION shape for every network destination. */
  def executorNetworkWriter(transport: Iterator[String] => Unit): Writer =
    (batch, _, _) =>
      batch.select(to_json(struct(batch.columns.map(col): _*)).as("value"))
        .foreachPartition((rows: Iterator[Row]) => transport(rows.map(_.getString(0))))

  /** HTTP_ENDPOINT transport: POST each partition's JSON-lines payload
    * to the destination URL — a REAL wire writer in
    * [[executorNetworkWriter]]'s executor-side shape (JDK
    * HttpURLConnection, no added dependency; reference transport:
    * src/log_aggregator.cpp HTTP_ENDPOINT branch). A non-2xx status or
    * connect failure throws, which fails the Spark job for this batch
    * and surfaces to [[shipBatch]]'s retry/backoff/isolation machinery —
    * delivery is therefore AT-LEAST-ONCE per partition payload across
    * retries, the same contract as the reference's resend loop.
    * Empty partitions send nothing. */
  def httpEndpointWriter(url: String, connectTimeoutMillis: Int = 5000,
      readTimeoutMillis: Int = 10000): Writer =
    executorNetworkWriter { rows =>
      val payload = rows.mkString("\n")
      if (payload.nonEmpty)
        postString(url, payload, Seq("Content-Type" -> "application/x-ndjson"),
          connectTimeoutMillis, readTimeoutMillis)
    }

  /** Executor-side HTTP POST; returns the response body, throws on
    * non-2xx (into the retry machinery). Shared by every HTTP-family
    * transport — including [[Delivery]]'s WEBHOOK/SLACK alert methods,
    * which reuse this writer rather than growing a second HTTP stack. */
  private[streaming] def postString(url: String, body: String,
      headers: Seq[(String, String)], connectTimeoutMillis: Int = 5000,
      readTimeoutMillis: Int = 10000): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setConnectTimeout(connectTimeoutMillis)
      conn.setReadTimeout(readTimeoutMillis)
      conn.setRequestMethod("POST")
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(body.getBytes("UTF-8")) finally out.close()
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val resp = if (in == null) "" else try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n != -1) { bos.write(buf, 0, n); n = in.read(buf) }
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
      if (code < 200 || code >= 300) sys.error(s"HTTP $code from $url")
      resp
    } finally conn.disconnect()
  }

  /** ELASTICSEARCH transport: the real `_bulk` wire format — one
    * `{"index":{"_index":...}}` action line per document, ndjson,
    * trailing newline — POSTed per partition (reference transport:
    * src/log_aggregator.cpp ELASTICSEARCH branch). ES acknowledges bulk
    * requests with HTTP 200 even when individual items failed, so the
    * writer also fails on `"errors":true` in the response — without
    * that check a partially-rejected batch would be recorded delivered,
    * the classic ES bulk-ingestion bug. */
  def elasticsearchWriter(baseUrl: String, index: String,
      connectTimeoutMillis: Int = 5000, readTimeoutMillis: Int = 10000): Writer =
    executorNetworkWriter { rows =>
      val sb = new StringBuilder
      rows.foreach { doc =>
        sb.append("{\"index\":{\"_index\":\"").append(index).append("\"}}\n")
          .append(doc).append('\n')
      }
      if (sb.nonEmpty) {
        val resp = postString(s"$baseUrl/_bulk", sb.toString,
          Seq("Content-Type" -> "application/x-ndjson"),
          connectTimeoutMillis, readTimeoutMillis)
        if (topLevelBool(resp, "errors").contains(true))
          sys.error(s"ES _bulk reported item errors: ${resp.take(200)}")
      }
    }

  /** Value of a boolean key at the TOP LEVEL of a JSON object — a single
    * character scan tracking nesting depth and string state, so an
    * `"errors":true` echoed inside an item's document body (depth ≥ 2, or
    * inside a string value) never false-positives, and any whitespace
    * between key, colon, and value (tabs, newlines — ES pretty-print)
    * is accepted. Returns None when the key is absent or non-boolean. */
  private[graft] def topLevelBool(json: String, key: String): Option[Boolean] = {
    val n = json.length
    var i = 0
    var depth = 0
    while (i < n) {
      json.charAt(i) match {
        case '"' =>
          // consume the string literal (handles escaped quotes)
          val start = i + 1
          var j = start
          var escaped = false
          while (j < n && (escaped || json.charAt(j) != '"')) {
            escaped = !escaped && json.charAt(j) == '\\'
            j += 1
          }
          val s = if (j <= n) json.substring(start, math.min(j, n)) else ""
          i = j + 1
          if (depth == 1 && s == key) {
            var k = i
            while (k < n && json.charAt(k).isWhitespace) k += 1
            if (k < n && json.charAt(k) == ':') {
              k += 1
              while (k < n && json.charAt(k).isWhitespace) k += 1
              if (json.startsWith("true", k)) return Some(true)
              if (json.startsWith("false", k)) return Some(false)
              return None // key present but not a boolean literal
            }
          }
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' => depth -= 1; i += 1
        case _ => i += 1
      }
    }
    None
  }

  /** SPLUNK transport: the HTTP Event Collector wire format — each row
    * wrapped as `{"event": ...}`, concatenated (HEC accepts back-to-back
    * event objects), with the `Splunk <token>` authorization header
    * (reference transport: src/log_aggregator.cpp SPLUNK branch). A
    * wrong token is a 401/403 → retry machinery, visible in stats. */
  def splunkHecWriter(url: String, token: String,
      connectTimeoutMillis: Int = 5000, readTimeoutMillis: Int = 10000): Writer =
    executorNetworkWriter { rows =>
      val payload = rows.map(j => s"""{"event":$j}""").mkString("\n")
      if (payload.nonEmpty)
        postString(url, payload,
          Seq("Authorization" -> s"Splunk $token",
            "Content-Type" -> "application/json"),
          connectTimeoutMillis, readTimeoutMillis)
    }

  /** SYSLOG transport: RFC 5424 frames over TCP, newline-delimited
    * (non-transparent framing), one connection per partition
    * (reference transport: src/log_aggregator.cpp SYSLOG branch). The
    * severity in the PRI field maps from the row's `level` column; the
    * timestamp field is NILVALUE so a frame is a pure function of the
    * row (deterministic under retries — the collector's arrival time is
    * authoritative, standard practice for relayed syslog). */
  def syslogTcpWriter(host: String, port: Int, facility: Int = 16,
      appName: String = "graft"): Writer = (batch, _, _) => {
    val payload = batch.select(
      coalesce(col("level"), lit("INFO")).cast("string").as("level"),
      to_json(struct(batch.columns.map(col): _*)).as("value"))
    payload.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val sock = new java.net.Socket(host, port)
        try {
          val out = new java.io.BufferedOutputStream(sock.getOutputStream)
          rows.foreach { r =>
            val sev = r.getString(0) match {
              case "FATAL" => 2; case "ERROR" => 3; case "WARN" => 4
              case "DEBUG" => 7; case "TRACE" => 7; case _ => 6
            }
            val frame =
              s"<${facility * 8 + sev}>1 - - $appName - - - ${r.getString(1)}\n"
            out.write(frame.getBytes("UTF-8"))
          }
          out.flush()
        } finally sock.close()
      }
    }
  }

  /** CLOUDWATCH transport: the real PutLogEvents wire format — a SigV4-
    * signed `application/x-amz-json-1.1` POST with `X-Amz-Target:
    * Logs_20140328.PutLogEvents`, events in the REQUIRED chronological
    * order within each call (sorted per partition before building the
    * body; reference transport: src/log_aggregator.cpp CLOUDWATCH
    * branch). Timestamps come from the rows' `timestamp` column, so a
    * retried partition re-sends byte-identical events (modulo the
    * signing date, which is protocol metadata). A signature the server
    * rejects (403) throws into the shared retry/isolation machinery.
    * The JDK's HttpURLConnection refuses a caller-set Host header; the
    * host is still SIGNED (required), and the connection sends the same
    * value automatically. */
  /** PutLogEvents hard per-call limits (the service rejects an
    * over-limit call with a NON-RETRYABLE 400 — InvalidParameterException
    * — so retries can never fix it; the writer must chunk below them). */
  val CloudWatchMaxEventsPerCall: Int = 10000
  val CloudWatchMaxBatchBytes: Int = 1048576
  val CloudWatchPerEventOverheadBytes: Int = 26
  val CloudWatchMaxSpanMillis: Long = 24L * 60 * 60 * 1000

  /** Greedily split CHRONOLOGICALLY SORTED events into PutLogEvents-legal
    * chunks: ≤ maxEvents events, ≤ maxBytes of (UTF-8 message bytes + 26
    * per event), and ≤ maxSpan between a chunk's first and last event.
    * Greedy over a sorted input keeps every chunk sorted and contiguous,
    * so within-call chronological order is preserved by construction.
    * A single event larger than maxBytes still gets its own chunk — the
    * service's 256 KiB event cap makes that unreachable with the 1 MiB
    * batch limit, and dropping it silently would be worse. */
  private[graft] def cloudWatchChunks(events: Array[(Long, String)],
      maxEvents: Int = CloudWatchMaxEventsPerCall,
      maxBytes: Int = CloudWatchMaxBatchBytes,
      maxSpanMillis: Long = CloudWatchMaxSpanMillis): Seq[Array[(Long, String)]] = {
    val chunks = Vector.newBuilder[Array[(Long, String)]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var curBytes = 0L
    events.foreach { case ev @ (ts, msg) =>
      val evBytes = msg.getBytes("UTF-8").length.toLong + CloudWatchPerEventOverheadBytes
      val wouldOverflow = cur.nonEmpty && (
        cur.length >= maxEvents ||
        curBytes + evBytes > maxBytes ||
        ts - cur.head._1 > maxSpanMillis)
      if (wouldOverflow) {
        chunks += cur.toArray; cur.clear(); curBytes = 0L
      }
      cur += ev; curBytes += evBytes
    }
    if (cur.nonEmpty) chunks += cur.toArray
    chunks.result()
  }

  def cloudWatchLogsWriter(endpoint: String, region: String,
      logGroup: String, logStream: String, accessKey: String,
      secretKey: String, connectTimeoutMillis: Int = 5000,
      readTimeoutMillis: Int = 10000,
      maxEventsPerCall: Int = CloudWatchMaxEventsPerCall,
      maxBatchBytes: Int = CloudWatchMaxBatchBytes,
      maxSpanMillis: Long = CloudWatchMaxSpanMillis): Writer = (batch, _, _) => {
    val payload = batch.select(
      unix_millis(col("timestamp").cast("timestamp")).as("ts_ms"),
      to_json(struct(batch.columns.map(col): _*)).as("value"))
    payload.foreachPartition { (rows: Iterator[Row]) =>
      val events = rows.map(r => (r.getLong(0), r.getString(1)))
        .toArray.sortBy(_._1)
      if (events.nonEmpty) {
        def esc(s: String): String = s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        }
        // one signed request per limit-respecting chunk; chunks are sent
        // oldest-first so a mid-sequence failure leaves a clean prefix
        // delivered and the whole partition retries at-least-once
        cloudWatchChunks(events, maxEventsPerCall, maxBatchBytes,
            maxSpanMillis).foreach { chunk =>
          val body = chunk.map { case (ts, msg) =>
            s"""{"timestamp":$ts,"message":"${esc(msg)}"}"""
          }.mkString(
            s"""{"logGroupName":"${esc(logGroup)}","logStreamName":"${esc(logStream)}","logEvents":[""",
            ",", "]}")
          val url = new java.net.URL(endpoint)
          val amzDate = java.time.format.DateTimeFormatter
            .ofPattern("yyyyMMdd'T'HHmmss'Z'")
            .withZone(java.time.ZoneOffset.UTC)
            .format(java.time.Instant.now())
          val host = Option(url.getAuthority).getOrElse(url.getHost)
          val uri = Option(url.getPath).filter(_.nonEmpty).getOrElse("/")
          val signedHeaders = Seq(
            "content-type" -> "application/x-amz-json-1.1",
            "host" -> host,
            "x-amz-date" -> amzDate,
            "x-amz-target" -> "Logs_20140328.PutLogEvents")
          val auth = SigV4.authorization("POST", uri, "", signedHeaders, body,
            accessKey, secretKey, region, "logs", amzDate)
          postString(endpoint, body,
            signedHeaders.filterNot(_._1 == "host") :+ ("Authorization" -> auth),
            connectTimeoutMillis, readTimeoutMillis)
          ()
        }
      }
    }
  }

  /** TEST-ONLY transport stub: collects the batch to the driver so specs
    * can assert on the payload in-process. Never use as a template for a
    * real transport — that is [[executorNetworkWriter]]. */
  def stubNetworkWriter(transport: Seq[String] => Unit = _ => ()): Writer =
    (batch, _, _) => {
      val payload = batch
        .select(to_json(struct(batch.columns.map(col): _*)).as("value"))
        .collect().map(_.getString(0)).toSeq
      transport(payload)
    }

  @volatile private var shipped: Vector[ShipResult] = Vector.empty
  def stats: Seq[ShipResult] = shipped
  def resetStats(): Unit = synchronized { shipped = Vector.empty }

  /** Ship one micro-batch to every destination through its level/component
    * filter (P10). Retries per destination under the shared
    * [[Delivery.RetryPolicy]] (exponential backoff from the destination's
    * configured delay, 5 min cap); a destination that exhausts its
    * retries is recorded as failed and the batch CONTINUES to the other
    * destinations — one sink's outage never drops the rest
    * (reference isolates per-destination failures the same way).
    * `sleeper` is injectable so specs verify backoff without sleeping. */
  def shipBatch(batch: DataFrame, batchId: Long,
      destinations: Seq[(Destination, Writer)],
      sleeper: Long => Unit = Thread.sleep): Unit = Materialize.scope { m =>
    // one pass per destination over the (small) micro-batch; keep it so
    // the per-destination filters don't re-read the source
    m.keep(batch)
    destinations.foreach { case (dest, writer) =>
      val filtered = LogQuery.shipFilter(batch, dest.allowedLevels, dest.allowedComponents)
      val n = filtered.count()
      // cap each sleep by the remaining inline budget; attempts whose
      // delay no longer fits simply run back-to-back until exhausted
      var budget = dest.maxInlineRetryMillis
      val budgetedSleeper: Long => Unit = { d =>
        val capped = math.min(d, budget)
        budget -= capped
        if (capped > 0) sleeper(capped)
      }
      val outcome =
        if (n == 0) Delivery.Delivered(0)
        else Delivery.deliver(
          Delivery.RetryPolicy(maxAttempts = dest.maxRetries + 1,
            baseDelayMillis = dest.retryDelayMillis),
          budgetedSleeper)(() => writer(filtered, batchId, dest))
      val ok = outcome.isInstanceOf[Delivery.Delivered]
      synchronized {
        shipped = shipped :+ ShipResult(dest.name, batchId, if (ok) n else 0L,
          delivered = ok, attempts = outcome.attempts)
      }
    }
  }

  /** Attach the shipper to a streaming log Dataset with the reference's
    * 30 s batch cadence (reference: include/log_aggregator.hpp:55). */
  def start(logs: DataFrame, destinations: Seq[(Destination, Writer)],
      checkpoint: String, triggerMillis: Long = 30000): StreamingQuery =
    logs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMillis))
      .foreachBatch((b: Dataset[Row], id: Long) => shipBatch(b.toDF(), id, destinations))
      .start()

  /** ST3: priority ordering within a micro-batch before fan-out — the
    * broadcaster drains its queue highest-priority-first
    * (reference: include/message_broadcaster.hpp:52-63). */
  def prioritized(batch: DataFrame, priorityCol: String = "priority"): DataFrame =
    if (batch.columns.contains(priorityCol))
      batch.orderBy(col(priorityCol).desc)
    else batch

  /** ST3 drop-on-full QoS: the reference's broadcaster queue is bounded —
    * when a batch exceeds the queue capacity, the LOWEST-priority
    * messages are shed (lossy by design). Returns the kept frame; pair
    * with [[droppedCount]] so shed volume is accounted, not silent.
    * Plans as TakeOrderedAndProject — no global sort at scale. */
  def prioritizedCapped(batch: DataFrame, maxQueue: Int,
      priorityCol: String = "priority"): DataFrame =
    prioritized(batch, priorityCol).limit(maxQueue)

  /** Messages a capacity would shed from this batch (accounting). */
  def droppedCount(batch: DataFrame, maxQueue: Int): Long =
    math.max(0L, batch.count() - maxQueue)

  /** ST9: alert stream — threshold filter over a metrics stream
    * (reference: include/notification_service.hpp:22-131; thresholds
    * memory 85%, cpu 90%, job timeout 25 min from config/config.json:108-134). */
  def alerts(metrics: DataFrame,
      memoryThresholdPct: Double = 85.0,
      cpuThresholdPct: Double = 90.0,
      jobTimeoutMillis: Long = 25L * 60 * 1000): DataFrame = {
    val mem = metrics.filter(col("memoryPct") > memoryThresholdPct)
      .withColumn("alertType", lit("MEMORY"))
    val cpu = metrics.filter(col("cpuPct") > cpuThresholdPct)
      .withColumn("alertType", lit("CPU"))
    val timeout = metrics.filter(col("executionTimeMs") > jobTimeoutMillis)
      .withColumn("alertType", lit("JOB_TIMEOUT"))
    mem.unionByName(cpu).unionByName(timeout)
  }
}

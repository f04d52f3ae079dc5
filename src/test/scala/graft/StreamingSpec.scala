package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{JobRegistry, LogShipper, RateLimiter}
import graft.streaming.JobRegistry.JobEvent

/** Streaming semantics: progress suppression, recent-log ring buffer,
  * enforce-before-increment rate limiting, log shipping — driven through
  * MemoryStream so the stateful operators run in real micro-batch
  * execution, not just batch mode. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("streaming-spec", "4").getOrCreate()

  private def ts(ms: Long) = new Timestamp(1700000000000L + ms)

  test("job registry suppresses progress deltas < 5% and emits the rest") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[JobEvent]
    val query = JobRegistry.registry(stream.toDS())
      .writeStream.format("memory").queryName("registry_out")
      .outputMode("append").start()
    try {
      stream.addData(
        JobEvent("j1", "STATUS", Some("RUNNING"), None, Some("extract"), None, ts(0)),
        JobEvent("j1", "PROGRESS", None, Some(10), None, None, ts(1)),
        JobEvent("j1", "PROGRESS", None, Some(12), None, None, ts(2)), // Δ2 suppressed
        JobEvent("j1", "PROGRESS", None, Some(14), None, None, ts(3)), // Δ4 suppressed
        JobEvent("j1", "PROGRESS", None, Some(15), None, None, ts(4)), // Δ5 emitted
        JobEvent("j1", "PROGRESS", None, Some(100), None, None, ts(5)))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT progressPercent FROM registry_out ORDER BY progressPercent").collect()
      // STATUS emit (0) + progress 10, 15, 100 — 12 and 14 suppressed
      assert(rows.map(_.getInt(0)).toSeq == Seq(0, 10, 15, 100))
    } finally query.stop()
  }

  test("suppression threshold is relative to last EMITTED progress across batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[JobEvent]
    val query = JobRegistry.registry(stream.toDS())
      .writeStream.format("memory").queryName("registry_out2")
      .outputMode("append").start()
    try {
      stream.addData(JobEvent("j2", "PROGRESS", None, Some(50), None, None, ts(0)))
      query.processAllAvailable()
      // second batch: 52 is Δ2 from the stored 50 → suppressed even though
      // it is the first event of its batch (state persisted across batches)
      stream.addData(JobEvent("j2", "PROGRESS", None, Some(52), None, None, ts(1)))
      query.processAllAvailable()
      stream.addData(JobEvent("j2", "PROGRESS", None, Some(56), None, None, ts(2)))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT progressPercent FROM registry_out2 ORDER BY progressPercent").collect()
      assert(rows.map(_.getInt(0)).toSeq == Seq(50, 56))
    } finally query.stop()
  }

  test("recent-logs ring buffer caps at 50") {
    import spark.implicits._
    val events = (1 to 60).map(i =>
      JobEvent("j3", "LOG", None, None, None, Some(s"line$i"), ts(i)))
    val out = JobRegistry.registry(spark.createDataset(events)).collect()
    val last = out.last
    assert(last.recentLogs.size == 50)
    assert(last.recentLogs.head == "line11" && last.recentLogs.last == "line60")
  }

  test("ST7: terminal job state expires after retention (event-time timeout)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val retentionMs = 3600L * 1000
    val stream = MemoryStream[JobEvent]
    val query = JobRegistry.registryExpiring(
        stream.toDS().withWatermark("ts", "0 seconds"), retentionMillis = retentionMs)
      .writeStream.format("memory").queryName("registry_ttl")
      .outputMode("append").start()
    try {
      stream.addData(
        JobEvent("j9", "PROGRESS", None, Some(50), None, None, ts(0)),
        JobEvent("j9", "STATUS", Some("COMPLETED"), None, None, None, ts(1)))
      query.processAllAvailable()
      // advance the watermark past j9's (lastEventTs + retention) timeout
      stream.addData(JobEvent("j10", "STATUS", Some("RUNNING"), None, None, None,
        ts(retentionMs + 60000)))
      query.processAllAvailable()
      // the timeout fires during the next batch after the watermark move
      stream.addData(JobEvent("j10", "PROGRESS", None, Some(10), None, None,
        ts(retentionMs + 61000)))
      query.processAllAvailable()
      // j9's state is gone: a Δ2 progress event is treated as first-update
      // (emitted, fresh PENDING state); with retained state it would be
      // suppressed (Δ2 < threshold 5)
      stream.addData(JobEvent("j9", "PROGRESS", None, Some(52), None, None,
        ts(retentionMs + 62000)))
      query.processAllAvailable()
      val j9 = spark.sql(
        """SELECT status, progressPercent FROM registry_ttl
          |WHERE jobId = 'j9' ORDER BY progressPercent, status""".stripMargin)
        .collect().map(r => (r.getString(0), r.getInt(1)))
      assert(j9.toSeq == Seq(("COMPLETED", 50), ("PENDING", 50), ("PENDING", 52)))
    } finally query.stop()
  }

  test("rate limiter: denied requests do not consume quota") {
    import spark.implicits._
    // 8 requests in one minute window, limit 5/min: first 5 allowed.
    // Then next minute: quota resets, allowed again.
    val reqs = (0 until 8).map(i =>
      RateLimiter.Request("c1", "/api/auth/login", ts(i * 1000))) :+
      RateLimiter.Request("c1", "/api/auth/login", ts(61 * 1000))
    val out = RateLimiter.limit(spark.createDataset(reqs)).collect()
      .sortBy(_.ts.getTime)
    assert(out.take(5).forall(_.allowed))
    assert(!out(5).allowed && !out(6).allowed && !out(7).allowed)
    assert(out(5).minuteCount == 5) // denied did not increment
    assert(out.last.allowed)        // new window
  }

  test("streaming index ingestion: store equals monolith, replay is idempotent") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("stream-pospostings").toString
    val stream = MemoryStream[(Long, String)] // (doc_id, text)
    val q = stream.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(graft.streaming.IndexIngest.posPostingsSink(dir))
      .outputMode("update").start()
    val b0 = Seq((0L, "the quick brown fox"), (1L, "fox den"))
    val b1 = Seq((2L, "quick quick dog"))
    try {
      stream.addData(b0: _*); q.processAllAvailable()
      stream.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    val viaStream = rows(graft.sources.PosPostingsStore.load(spark, dir))
    val monolith = rows(graft.operators.Retrieval.posPostings(
      (b0 ++ b1).toDF("doc_id", "text")))
    assert(viaStream == monolith)
    // replayed micro-batch (same batch id) OVERWRITES its delta — the
    // exactly-once argument — instead of doubling rows
    graft.sources.PosPostingsStore.appendDelta(
      graft.operators.Retrieval.posPostings(b1.toDF("doc_id", "text")),
      dir, "stream-000001")
    assert(rows(graft.sources.PosPostingsStore.load(spark, dir))
      == monolith)
  }

  test("streaming query-side serving: per-batch parity with the batch scorer, mid-stream ingest") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.operators.Retrieval
    val idxDir = java.nio.file.Files
      .createTempDirectory("serve-postings").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("serve-results").toString
    val docStream = MemoryStream[(Long, String)]
    val ingest = docStream.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(graft.streaming.IndexIngest.postingsSink(idxDir))
      .outputMode("update").start()
    val qStream = MemoryStream[(Long, String)]
    val serve = qStream.toDS().toDF("query_id", "text").writeStream
      .foreachBatch(
        graft.streaming.IndexIngest.bm25ServeSink(idxDir, outDir, kTop = 3))
      .outputMode("update").start()
    // query ids start at 1001 so the scorer's self-exclusion
    // (query_id =!= doc_id) never bites a document
    val b0 = Seq((1L, "quick brown fox"), (2L, "fox den fox"), (3L, "lazy dog"))
    val b1 = Seq((4L, "quick dog quick"), (5L, "brown dog den"))
    val b2 = Seq((6L, "fox dog fox den"))
    val q0 = Seq((1001L, "fox"), (1002L, "quick dog"))
    val q1 = Seq((1001L, "fox"), (1003L, "brown den"))
    val q2 = Seq((1001L, "fox"), (1002L, "quick dog"), (1003L, "brown den"))
    def served(batchId: Long): Set[(Long, Long, Double, Int)] =
      spark.read.parquet(f"$outDir/batch-$batchId%06d").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    def monolith(docs: Seq[(Long, String)], qs: Seq[(Long, String)])
        : Set[(Long, Long, Double, Int)] = {
      val post = Retrieval.postings(docs.toDF("doc_id", "text"))
      val (nd, avgdl) = Retrieval.storeStats(post)
      Retrieval.bm25TopK(post, qs.toDF("query_id", "text"), nd, avgdl, 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    }
    try {
      // interleave: ingest, query, ingest, query, ingest, query — each
      // query batch must score against EXACTLY the snapshot it saw,
      // bit-identical to a monolithic rebuild of those docs
      docStream.addData(b0: _*); ingest.processAllAvailable()
      qStream.addData(q0: _*); serve.processAllAvailable()
      assert(served(0).nonEmpty)
      assert(served(0) == monolith(b0, q0))
      docStream.addData(b1: _*); ingest.processAllAvailable()
      qStream.addData(q1: _*); serve.processAllAvailable()
      assert(served(1) == monolith(b0 ++ b1, q1))
      docStream.addData(b2: _*); ingest.processAllAvailable()
      qStream.addData(q2: _*); serve.processAllAvailable()
      assert(served(2) == monolith(b0 ++ b1 ++ b2, q2))
      // the same query (1001, "fox") re-asked across snapshots tracks
      // the growing index — N and df moved, so its scores must differ
      val fox0 = served(0).filter(_._1 == 1001L)
      val fox2 = served(2).filter(_._1 == 1001L)
      assert(fox0 != fox2, "snapshot growth invisible to the server")
    } finally { serve.stop(); ingest.stop() }
    // replay: re-running a batch's handler OVERWRITES its own output
    // (batch-id-keyed — the ingest sinks' exactly-once argument) and
    // scores against the store as it stands at replay time
    graft.streaming.IndexIngest.bm25ServeSink(idxDir, outDir, kTop = 3)(
      q1.toDF("query_id", "text"), 1L)
    assert(served(1) == monolith(b0 ++ b1 ++ b2, q1))
    // the 100 TB shape: the probe scan prunes to the batch's term set
    // at the parquet level — the store is never fully read for scoring
    // (only the two-column stats aggregation sees every row)
    val plan = graft.streaming.IndexIngest.bm25ServePlan(
      graft.sources.PostingsStore.load(spark, idxDir),
      q1.toDF("query_id", "text"), kTop = 3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(plan).isDefined,
      s"term IN pushdown missing from the serve scan:\n$plan")
  }

  test("stream-stream interval join: out-of-order arrivals, batch parity, inclusive bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)] // (view_id, user, vts)
    val buys = MemoryStream[(Long, Long, Timestamp)]  // (buy_id, buyer, bts)
    val joined = graft.streaming.StreamJoin.intervalJoin(
      views.toDS().toDF("view_id", "user", "vts"),
      buys.toDS().toDF("buy_id", "buyer", "bts"),
      "user", "buyer", "vts", "bts",
      windowSec = 60, watermarkDelay = "10 seconds")
    val q = joined.select(col("view_id"), col("buy_id"))
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      views.addData((10L, 1L, ts(0)), (11L, 2L, ts(30000)))
      buys.addData((20L, 2L, ts(40000)))
      q.processAllAvailable()
      // buys matching batch-1 views arrive a batch LATER, alongside a
      // new view that also claims them — emitted set must not care
      buys.addData((21L, 1L, ts(60000)), (22L, 1L, ts(61000)))
      views.addData((12L, 1L, ts(55000)))
      q.processAllAvailable()
      val got = spark.sql("SELECT view_id, buy_id FROM sj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val allV = Seq((10L, 1L, ts(0)), (11L, 2L, ts(30000)),
        (12L, 1L, ts(55000))).toDF("view_id", "user", "vts")
      val allB = Seq((20L, 2L, ts(40000)), (21L, 1L, ts(60000)),
        (22L, 1L, ts(61000))).toDF("buy_id", "buyer", "bts")
      val expected = graft.streaming.StreamJoin.intervalJoinBatch(
        allV, allB, "user", "buyer", "vts", "bts", windowSec = 60)
        .select(col("view_id"), col("buy_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
      // the +60s bound is inclusive for view 10, +61s is outside it —
      // but 61s is inside view 12's [55, 115] window
      assert(got.contains((10L, 21L)) && !got.contains((10L, 22L)))
      assert(got.contains((12L, 22L)) && got.contains((11L, 20L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched lefts emit once the watermark closes their window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val joined = graft.streaming.StreamJoin.intervalJoinLeftOuter(
      views.toDS().toDF("view_id", "user", "vts"),
      buys.toDS().toDF("buy_id", "buyer", "bts"),
      "user", "buyer", "vts", "bts",
      windowSec = 60, watermarkDelay = "10 seconds")
    val q = joined.select(col("view_id"), col("buy_id"))
      .writeStream.format("memory").queryName("sj_outer")
      .outputMode("append").start()
    try {
      // view 50 will match; view 51 never will
      views.addData((50L, 1L, ts(0)), (51L, 2L, ts(0)))
      buys.addData((60L, 1L, ts(30000)))
      q.processAllAvailable()
      val early = spark.sql("SELECT view_id, buy_id FROM sj_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      // the inner match emits as soon as both sides are present; the
      // unmatched view does NOT — its window [0, 60s] is still open
      assert(early.contains((50L, 60L)))
      assert(!early.exists(_._1 == 51L),
        "unmatched left emitted before its window closed")
      // advance both watermarks past 0 + 60s + delay
      views.addData((52L, 9L, ts(300000)))
      buys.addData((61L, 9L, ts(300000)))
      q.processAllAvailable()
      views.addData((53L, 9L, ts(301000)))
      buys.addData((62L, 8L, ts(301000)))
      q.processAllAvailable()
      val late = spark.sql("SELECT view_id, buy_id FROM sj_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(late.contains((51L, -1L)),
        s"unmatched left must emit with a null right after the horizon: $late")
      assert(!late.contains((50L, -1L)),
        "a matched left must not ALSO emit an outer null row")
    } finally q.stop()
  }

  test("stream-stream interval join: rows behind the global watermark are dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val joined = graft.streaming.StreamJoin.intervalJoin(
      views.toDS().toDF("view_id", "user", "vts"),
      buys.toDS().toDF("buy_id", "buyer", "bts"),
      "user", "buyer", "vts", "bts",
      windowSec = 60, watermarkDelay = "10 seconds")
    val q = joined.select(col("view_id"), col("buy_id"))
      .writeStream.format("memory").queryName("sj_late")
      .outputMode("append").start()
    try {
      views.addData((30L, 7L, ts(0)))
      buys.addData((40L, 8L, ts(0)))
      q.processAllAvailable()
      // advance BOTH sides (the global watermark is the MIN across
      // inputs — advancing one side alone would not move it)
      views.addData((31L, 7L, ts(10000000)))
      buys.addData((41L, 8L, ts(10000000)))
      q.processAllAvailable()
      // a buy at t=5s would match view 30 (5 ∈ [0, 60]) — but it is
      // far behind the watermark: dropped at the input, and view 30's
      // buffered state is itself already evicted
      buys.addData((42L, 7L, ts(5000)))
      q.processAllAvailable()
      val got = spark.sql("SELECT view_id, buy_id FROM sj_late").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!got.contains((30L, 42L)), "late row must not match")
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"expected a watermark drop, got $dropped")
    } finally q.stop()
  }

  test("streaming dedup keeps first-seen across batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(String, Long, String)] // (fp, id, text)
    val q = graft.operators.Dedup.streamingDedupFirstSeen(stream.toDS())
      .toDF("fp", "id", "text")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      stream.addData(("fpA", 2L, "a2"), ("fpA", 1L, "a1"), ("fpB", 5L, "b5"))
      q.processAllAvailable()
      // second batch: fpA duplicate arrives again → suppressed by state
      stream.addData(("fpA", 9L, "a9"), ("fpC", 7L, "c7"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT fp, id FROM dedup_out ORDER BY fp")
        .collect().map(r => r.getString(0) -> r.getLong(1))
      assert(rows.toSeq == Seq("fpA" -> 1L, "fpB" -> 5L, "fpC" -> 7L))
    } finally q.stop()
  }

  test("streaming dedup TTL: duplicates re-emit after the horizon passes") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ttl = 3600L * 1000
    val stream = MemoryStream[(String, Long, String, Timestamp)]
    val q = graft.operators.Dedup
      .streamingDedupWithTtl(
        stream.toDS().withWatermark("_4", "0 seconds"), ttlMillis = ttl)
      .toDF("fp", "id", "text")
      .writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("append").start()
    try {
      stream.addData(("fpX", 1L, "v1", ts(0)))
      q.processAllAvailable()
      // within horizon: suppressed
      stream.addData(("fpX", 2L, "v2", ts(60000)))
      q.processAllAvailable()
      // advance the watermark far past fpX's horizon (other key)
      stream.addData(("fpY", 3L, "v3", ts(ttl + 120000)))
      q.processAllAvailable()
      stream.addData(("fpY", 4L, "v4", ts(ttl + 121000))) // fires fpX timeout
      q.processAllAvailable()
      // beyond horizon: fpX forgotten → re-emitted as new
      stream.addData(("fpX", 9L, "v9", ts(ttl + 122000)))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM dedup_ttl ORDER BY id")
        .collect().map(_.getLong(0))
      assert(ids.toSeq == Seq(1L, 3L, 9L)) // 2 suppressed, 9 re-emitted, 4 suppressed(fpY)
    } finally q.stop()
  }

  test("ST3 priority ordering within a batch") {
    import spark.implicits._
    val batch = Seq(("a", 1), ("b", 9), ("c", 5)).toDF("msg", "priority")
    val got = LogShipper.prioritized(batch).select("msg").collect().map(_.getString(0))
    assert(got.toSeq == Seq("b", "c", "a"))
    // no priority column → passthrough
    val plain = Seq("x", "y").toDF("msg")
    assert(LogShipper.prioritized(plain).collect().map(_.getString(0)).toSeq == Seq("x", "y"))
  }

  test("ST3 drop-on-full QoS sheds lowest-priority messages, accounted") {
    import spark.implicits._
    val batch = Seq(("a", 1), ("b", 9), ("c", 5), ("d", 7)).toDF("msg", "priority")
    val kept = LogShipper.prioritizedCapped(batch, maxQueue = 2)
      .select("msg").collect().map(_.getString(0))
    assert(kept.toSeq == Seq("b", "d")) // highest priorities survive
    assert(LogShipper.droppedCount(batch, 2) == 2L)
    assert(LogShipper.droppedCount(batch, 10) == 0L)
  }

  test("rate limiter: longest-prefix rule match with delimiter check") {
    assert(RateLimiter.matchRule("/api/jobs/123/status").map(_.endpoint)
      .contains("/api/jobs"))
    assert(RateLimiter.matchRule("/api/auth/login").map(_.perMinute).contains(5))
    assert(RateLimiter.matchRule("/api/jobsx").isEmpty) // no delimiter → no match
    assert(RateLimiter.matchRule("/nothing").isEmpty)
  }

  test("A13 running counters: streaming groupBy sum in update mode") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    val counts = stream.toDF().toDF("jobId", "n")
      .groupBy($"jobId")
      .agg(org.apache.spark.sql.functions.sum($"n").as("recordsProcessed"))
    val q = counts.writeStream.format("memory").queryName("counters")
      .outputMode("update").start()
    try {
      stream.addData(("j1", 10L), ("j1", 5L), ("j2", 3L))
      q.processAllAvailable()
      stream.addData(("j1", 1L))
      q.processAllAvailable()
      // update mode: latest row per key carries the running total
      val latest = spark.sql(
        "SELECT jobId, max(recordsProcessed) FROM counters GROUP BY jobId ORDER BY jobId")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(latest == Map("j1" -> 16L, "j2" -> 3L))
    } finally q.stop()
  }

  test("ST9: delivery retry uses exponential backoff and isolates failures") {
    import graft.streaming.Delivery
    // flaky sender: fails twice, succeeds on attempt 3 — delays 5 s, 10 s
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var tries = 0
    val out = Delivery.deliver(Delivery.RetryPolicy(), delays += _) { () =>
      tries += 1; if (tries < 3) throw new RuntimeException("flaky")
    }
    assert(out == Delivery.Delivered(3))
    assert(delays.toSeq == Seq(5000L, 10000L))

    // permanent failure: exactly maxAttempts tries, Failed returned (not thrown)
    val delays2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out2 = Delivery.deliver(Delivery.RetryPolicy(), delays2 += _)(
      () => throw new RuntimeException("down"))
    assert(out2 == Delivery.Failed(3, "down"))
    assert(delays2.toSeq == Seq(5000L, 10000L))

    // backoff caps at the reference's 5 min
    assert(Delivery.RetryPolicy(maxAttempts = 10).delayBefore(9) == 5L * 60 * 1000)

    // dispatch: a failing WEBHOOK does not block the LOG method
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val res = Delivery.dispatch(
      Delivery.Notification("MEMORY", "mem 92%", "host x"),
      Seq(Delivery.Method("WEBHOOK", _ => throw new RuntimeException("503")),
        Delivery.logMethod(logged += _)),
      sleeper = _ => ())
    assert(res.find(_.method == "WEBHOOK").get.outcome.isInstanceOf[Delivery.Failed])
    assert(res.find(_.method == "LOG").get.outcome == Delivery.Delivered(1))
    assert(logged.exists(_.contains("MEMORY")))
  }

  test("ST9: real EMAIL/WEBHOOK/SLACK transports round-trip in-JVM servers with retry + isolation") {
    import graft.streaming.Delivery
    // --- in-JVM HTTP server: /hook 503s the first request then accepts;
    // /slack acks the first request with HTTP 200 but body
    // `invalid_payload` (Slack really does this) then with `ok`;
    // /dead always 503s (the isolation probe)
    val hookBodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val hookFails = new java.util.concurrent.atomic.AtomicInteger(1)
    val slackBodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val slackBadAck = new java.util.concurrent.atomic.AtomicBoolean(true)
    val server = graft.api.HttpApi.loopbackServer(0)
    def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int,
        body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      if (hookFails.getAndDecrement() > 0) respond(ex, 503, "")
      else { hookBodies.add(body); respond(ex, 200, "") }
    })
    server.createContext("/slack", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      if (slackBadAck.getAndSet(false)) respond(ex, 200, "invalid_payload")
      else { slackBodies.add(body); respond(ex, 200, "ok") }
    })
    server.createContext("/deadhook", (ex: com.sun.net.httpserver.HttpExchange) => {
      respond(ex, 503, "")
    })
    server.setExecutor(null)
    server.start()
    val port = server.getAddress.getPort

    // --- in-JVM SMTP server: full reply-code dialogue; the FIRST
    // connection rejects MAIL FROM with a transient 451 (retry probe);
    // DATA lines recorded raw so dot-stuffing is observable on the wire
    val smtpLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val smtpReject = new java.util.concurrent.atomic.AtomicBoolean(true)
    val smtpServer = new java.net.ServerSocket(0, 50,
      java.net.InetAddress.getByName("127.0.0.1"))
    val smtpThread = new Thread(() => {
      try while (true) {
        val s = smtpServer.accept()
        try {
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
          val out = new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"))
          def reply(r: String): Unit = { out.write(r + "\r\n"); out.flush() }
          reply("220 test.local ESMTP")
          var inData = false
          var line = in.readLine()
          var alive = true
          while (alive && line != null) {
            if (inData) {
              if (line == ".") { inData = false; reply("250 queued") }
              else smtpLines.add(line)
            } else line.takeWhile(_ != ' ').takeWhile(_ != ':') match {
              case "HELO" | "EHLO" => reply("250 test.local")
              case "MAIL" =>
                if (smtpReject.getAndSet(false)) reply("451 try again later")
                else reply("250 ok")
              case "RCPT" => reply("250 ok")
              case "DATA" => inData = true; reply("354 go ahead")
              case "QUIT" => reply("221 bye"); alive = false
              case _ => reply("500 what")
            }
            if (alive) line = in.readLine()
          }
        } finally s.close()
      } catch { case _: Throwable => () } // server closed -> exit
    })
    smtpThread.setDaemon(true)
    smtpThread.start()
    val smtpPort = smtpServer.getLocalPort

    try {
      val n = Delivery.Notification("CPU", "cpu 95% \"hot\"",
        "host y\n.dotline") // a quote to escape + a dot-stuffing probe
      val res = Delivery.dispatch(n, Seq(
        // dead FIRST: its exhausted retries must not block the others
        Delivery.webhookMethod(s"http://127.0.0.1:$port/deadhook")
          .copy(name = "DEAD"),
        Delivery.webhookMethod(s"http://127.0.0.1:$port/hook"),
        Delivery.slackMethod(s"http://127.0.0.1:$port/slack"),
        Delivery.emailMethod("127.0.0.1", smtpPort,
          from = "alerts@graft.local", to = "ops@graft.local")),
        sleeper = _ => ())
      val byName = res.groupBy(_.method).view.mapValues(_.head).toMap
      assert(byName("DEAD").outcome == Delivery.Failed(3, "HTTP 503 from " +
        s"http://127.0.0.1:$port/deadhook"), byName("DEAD").toString)
      // webhook: one real 503 then a real 200 over the wire
      assert(byName("WEBHOOK").outcome == Delivery.Delivered(2), byName.toString)
      val hook = hookBodies.toArray(Array.empty[String])
      assert(hook.length == 1 &&
        hook(0).contains(""""alertType":"CPU"""") &&
        hook(0).contains("""cpu 95% \"hot\""""), hook.mkString("|"))
      // slack: the HTTP-200 `invalid_payload` ack MUST count as a failure
      assert(byName("SLACK").outcome == Delivery.Delivered(2), byName.toString)
      val slack = slackBodies.toArray(Array.empty[String])
      assert(slack.length == 1 && slack(0).contains("*[CPU]"), slack.mkString("|"))
      // email: transient 451 on the first connection, clean dialogue on
      // the second; dot-stuffing visible on the wire
      assert(byName("EMAIL").outcome == Delivery.Delivered(2), byName.toString)
      val mail = smtpLines.toArray(Array.empty[String])
      assert(mail.exists(_ == "Subject: [CPU] cpu 95% \"hot\""), mail.mkString("|"))
      assert(mail.exists(_ == "..dotline"), // wire form: stuffed
        mail.mkString("|"))
    } finally {
      server.stop(0)
      smtpServer.close()
    }
  }

  test("S8: a destination exhausting retries is isolated; others still ship") {
    import spark.implicits._
    LogShipper.resetStats()
    val batch = Seq(
      graft.model.LogMessage("j1", "ERROR", "db", "boom", ts(0)),
      graft.model.LogMessage("j1", "INFO", "api", "ok", ts(1))).toDF()
    val received = scala.collection.mutable.ArrayBuffer.empty[String]
    val dests = Seq(
      LogShipper.Destination("dead", "HTTP_ENDPOINT", Seq("ERROR", "INFO"),
        maxRetries = 3) ->
        ((_: org.apache.spark.sql.DataFrame, _: Long, _: LogShipper.Destination) =>
          throw new RuntimeException("endpoint down")),
      LogShipper.Destination("alive", "FILE", Seq("ERROR", "INFO")) ->
        LogShipper.stubNetworkWriter(p => received.synchronized { received ++= p }))
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    LogShipper.shipBatch(batch, 7L, dests, sleeper = slept += _)
    val byName = LogShipper.stats.map(r => r.destination -> r).toMap
    assert(!byName("dead").delivered && byName("dead").attempts == 4) // 1 + 3 retries
    assert(byName("alive").delivered && byName("alive").shipped == 2) // not skipped
    assert(received.size == 2)
    // in-batch sleeps are capped by the destination's inline retry budget
    // (default 15 s) — the uncapped schedule would be 5+10+20 s
    assert(slept.sum <= 15000L, s"slept ${slept.toSeq}")
  }

  test("S8: executorNetworkWriter ships every row from executors") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-exec-writer")
    val outPath = out.toString // serializable capture for the executor closure
    val batch = Seq(
      graft.model.LogMessage("j1", "ERROR", "db", "boom", ts(0)),
      graft.model.LogMessage("j1", "INFO", "api", "ok", ts(1)),
      graft.model.LogMessage("j2", "WARN", "api", "slow", ts(2))).toDF()
      .repartition(3) // force multiple partitions → multiple transport calls
    val writer = LogShipper.executorNetworkWriter { rows =>
      // a real transport posts per partition; here each partition writes
      // its payload to a unique file (executor-side, no driver collect)
      val f = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(outPath), "part", ".jsonl")
      java.nio.file.Files.write(f, rows.mkString("\n").getBytes)
    }
    writer(batch, 1L, LogShipper.Destination("net", "HTTP_ENDPOINT", Seq("ERROR")))
    val shipped = new java.io.File(out.toString).listFiles()
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).filter(_.nonEmpty)
    assert(shipped.length == 3)
    assert(shipped.exists(_.contains("boom")) && shipped.exists(_.contains("slow")))
  }

  test("S8: real HTTP transport vs an in-JVM flaky server — retry, batch, isolation") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    LogShipper.resetStats()
    // in-JVM HTTP sink (com.sun.net.httpserver — loopback, no egress):
    // /flaky 503s the first two requests then accepts; /dead always 503s
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flakyFails = new java.util.concurrent.atomic.AtomicInteger(2)
    val server = graft.api.HttpApi.loopbackServer(0)
    server.createContext("/flaky", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      if (flakyFails.getAndDecrement() > 0) ex.sendResponseHeaders(503, -1)
      else {
        body.split("\n").filter(_.nonEmpty).foreach(received.add)
        ex.sendResponseHeaders(200, -1)
      }
      ex.close()
    })
    server.createContext("/dead", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(503, -1); ex.close()
    })
    server.setExecutor(null)
    server.start()
    val port = server.getAddress.getPort
    // one partition per attempt so the flaky counter maps 1:1 to attempts
    def onePartition(w: LogShipper.Writer): LogShipper.Writer =
      (b, id, d) => w(b.repartition(1), id, d)
    val dests = Seq(
      // dead FIRST: its exhausted retries must not block the next sink
      LogShipper.Destination("dead", "HTTP_ENDPOINT",
        Seq("INFO", "WARN", "ERROR", "FATAL"),
        maxRetries = 2, retryDelayMillis = 1) ->
        onePartition(LogShipper.httpEndpointWriter(s"http://127.0.0.1:$port/dead")),
      LogShipper.Destination("flaky", "HTTP_ENDPOINT", Seq("ERROR", "FATAL"),
        maxRetries = 3, retryDelayMillis = 1) ->
        onePartition(LogShipper.httpEndpointWriter(s"http://127.0.0.1:$port/flaky")))
    val stream = MemoryStream[graft.model.LogMessage]
    val query = LogShipper.start(stream.toDF(), dests,
      checkpoint = java.nio.file.Files.createTempDirectory("ship-http").toString,
      triggerMillis = 100)
    try {
      stream.addData(
        graft.model.LogMessage("j1", "ERROR", "db", "boom", ts(0)),
        graft.model.LogMessage("j1", "INFO", "api", "ok", ts(1)),
        graft.model.LogMessage("j2", "FATAL", "api", "bad", ts(2)))
      query.processAllAvailable()
      val byName = LogShipper.stats.groupBy(_.destination)
        .view.mapValues(_.head).toMap
      // dead: exhausted 1 + 2 retries, recorded failed — and the batch
      // CONTINUED to flaky (isolation)
      assert(!byName("dead").delivered && byName("dead").attempts == 3,
        byName("dead").toString)
      // flaky: two real 503s then a real 200 over the wire
      assert(byName("flaky").delivered && byName("flaky").attempts == 3,
        byName("flaky").toString)
      assert(byName("flaky").shipped == 2) // ERROR + FATAL, INFO filtered
      val lines = received.toArray(Array.empty[String])
      assert(lines.length == 2 && lines.exists(_.contains("boom")) &&
        lines.exists(_.contains("bad")), lines.mkString("|"))
    } finally {
      query.stop()
      server.stop(0)
    }
  }

  test("S8: ES bulk / Splunk HEC / syslog wire formats against in-JVM servers") {
    import spark.implicits._
    LogShipper.resetStats()
    // --- in-JVM HTTP server for the ES and Splunk endpoints ---
    val esBodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val esRejectFirst = new java.util.concurrent.atomic.AtomicBoolean(true)
    val hecBodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = graft.api.HttpApi.loopbackServer(0)
    def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) { ex.getResponseBody.write(bytes) }
      ex.close()
    }
    server.createContext("/_bulk", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      // first bulk: HTTP 200 but item errors — the writer MUST treat
      // this as a failure (the classic silent-loss bug) and retry
      if (esRejectFirst.getAndSet(false)) respond(ex, 200, """{"errors": true}""")
      else { esBodies.add(body); respond(ex, 200, """{"errors": false}""") }
    })
    server.createContext("/services/collector/event",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val auth = ex.getRequestHeaders.getFirst("Authorization")
        val body = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
        if (auth != "Splunk good-token") respond(ex, 403, """{"text":"bad token"}""")
        else { hecBodies.add(body); respond(ex, 200, """{"text":"Success","code":0}""") }
      })
    server.setExecutor(null)
    server.start()
    val httpPort = server.getAddress.getPort
    // --- in-JVM TCP collector for syslog ---
    val sysLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sysServer = new java.net.ServerSocket(0, 50,
      java.net.InetAddress.getByName("127.0.0.1"))
    val sysThread = new Thread(() => {
      try while (true) {
        val s = sysServer.accept()
        val rd = new java.io.BufferedReader(
          new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
        var line = rd.readLine()
        while (line != null) { sysLines.add(line); line = rd.readLine() }
        s.close()
      } catch { case _: Throwable => () } // server closed -> exit
    })
    sysThread.setDaemon(true)
    sysThread.start()

    try {
      val batch = Seq(
        graft.model.LogMessage("j1", "ERROR", "db", "boom", ts(0)),
        graft.model.LogMessage("j1", "INFO", "api", "ok", ts(1))).toDF()
        .repartition(1)
      def onePart(w: LogShipper.Writer): LogShipper.Writer =
        (b, id, d) => w(b.repartition(1), id, d)
      val noSleep: Long => Unit = _ => ()
      LogShipper.shipBatch(batch, 7L, Seq(
        LogShipper.Destination("es", "ELASTICSEARCH",
          Seq("INFO", "WARN", "ERROR", "FATAL"), retryDelayMillis = 1) ->
          onePart(LogShipper.elasticsearchWriter(
            s"http://127.0.0.1:$httpPort", index = "graft-logs")),
        LogShipper.Destination("splunk", "SPLUNK",
          Seq("ERROR", "FATAL"), retryDelayMillis = 1) ->
          onePart(LogShipper.splunkHecWriter(
            s"http://127.0.0.1:$httpPort/services/collector/event", "good-token")),
        LogShipper.Destination("splunk-bad", "SPLUNK",
          Seq("ERROR"), maxRetries = 1, retryDelayMillis = 1) ->
          onePart(LogShipper.splunkHecWriter(
            s"http://127.0.0.1:$httpPort/services/collector/event", "wrong")),
        LogShipper.Destination("syslog", "SYSLOG",
          Seq("INFO", "WARN", "ERROR", "FATAL"), retryDelayMillis = 1) ->
          LogShipper.syslogTcpWriter("127.0.0.1", sysServer.getLocalPort)),
        sleeper = noSleep)

      val byName = LogShipper.stats.groupBy(_.destination)
        .view.mapValues(_.head).toMap
      // ES: item-error bulk counted as a FAILED attempt, then delivered
      assert(byName("es").delivered && byName("es").attempts == 2,
        byName("es").toString)
      val bulk = esBodies.toArray(Array.empty[String]).mkString
      val bulkLines = bulk.split("\n").filter(_.nonEmpty)
      assert(bulkLines.length == 4, s"2 action + 2 source lines: $bulk")
      assert(bulkLines(0) == """{"index":{"_index":"graft-logs"}}""")
      assert(bulkLines(1).contains("boom") || bulkLines(3).contains("boom"))
      // Splunk: event-wrapped payload under the right token; wrong token 403s out
      assert(byName("splunk").delivered && byName("splunk").shipped == 1)
      val hec = hecBodies.toArray(Array.empty[String]).mkString
      assert(hec.startsWith("""{"event":{""") && hec.contains("boom"), hec)
      assert(!byName("splunk-bad").delivered && byName("splunk-bad").attempts == 2)
      // syslog: RFC 5424 frames with level-mapped PRI (16*8+3=131 ERROR,
      // 16*8+6=134 INFO), nil timestamp, JSON payload. The collector
      // thread drains asynchronously — poll briefly.
      val deadline = System.nanoTime() + 5_000_000_000L
      while (sysLines.size() < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      val frames = sysLines.toArray(Array.empty[String])
      assert(frames.length == 2, frames.mkString("|"))
      assert(frames.exists(f => f.startsWith("<131>1 - - graft - - - ") &&
        f.contains("boom")), frames.mkString("|"))
      assert(frames.exists(f => f.startsWith("<134>1 - - graft - - - ") &&
        f.contains("\"ok\"")), frames.mkString("|"))
    } finally {
      server.stop(0)
      sysServer.close()
    }
  }

  test("S8: CloudWatch PutLogEvents — SigV4 verified server-side, bad creds isolate") {
    import spark.implicits._
    LogShipper.resetStats()
    val goodSecret = "test-secret-key"
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = graft.api.HttpApi.loopbackServer(0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      val h = ex.getRequestHeaders
      // full server-side SigV4 verification: recompute the signature
      // from the received request with the REAL secret and compare
      val expected = graft.streaming.SigV4.authorization(
        "POST", "/", "",
        Seq("content-type" -> h.getFirst("Content-type"),
          "host" -> h.getFirst("Host"),
          "x-amz-date" -> h.getFirst("X-amz-date"),
          "x-amz-target" -> h.getFirst("X-amz-target")),
        body, "AKIDTEST", goodSecret, "us-east-1", "logs",
        h.getFirst("X-amz-date"))
      if (h.getFirst("Authorization") == expected) {
        bodies.add(body); ex.sendResponseHeaders(200, -1)
      } else ex.sendResponseHeaders(403, -1)
      ex.close()
    })
    server.setExecutor(null)
    server.start()
    val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/"
    try {
      val batch = Seq(
        graft.model.LogMessage("j1", "ERROR", "db", "boom", ts(5)),
        graft.model.LogMessage("j1", "WARN", "api", "slow", ts(1))).toDF()
        .repartition(1)
      def onePart(w: LogShipper.Writer): LogShipper.Writer =
        (b, id, d) => w(b.repartition(1), id, d)
      LogShipper.shipBatch(batch, 9L, Seq(
        LogShipper.Destination("cw-bad", "CLOUDWATCH",
          Seq("ERROR", "WARN"), maxRetries = 1, retryDelayMillis = 1) ->
          onePart(LogShipper.cloudWatchLogsWriter(endpoint, "us-east-1",
            "graft-group", "graft-stream", "AKIDTEST", "wrong-secret")),
        LogShipper.Destination("cw", "CLOUDWATCH",
          Seq("ERROR", "WARN"), retryDelayMillis = 1) ->
          onePart(LogShipper.cloudWatchLogsWriter(endpoint, "us-east-1",
            "graft-group", "graft-stream", "AKIDTEST", goodSecret))),
        sleeper = _ => ())
      val byName = LogShipper.stats.groupBy(_.destination)
        .view.mapValues(_.head).toMap
      assert(!byName("cw-bad").delivered && byName("cw-bad").attempts == 2,
        byName("cw-bad").toString)
      assert(byName("cw").delivered && byName("cw").shipped == 2,
        byName("cw").toString)
      val body = bodies.toArray(Array.empty[String]).mkString
      assert(body.contains("\"logGroupName\":\"graft-group\"") &&
        body.contains("\"logStreamName\":\"graft-stream\""), body.take(200))
      // chronological order within the call: WARN (ts 1) before ERROR (ts 5)
      assert(body.indexOf("slow") < body.indexOf("boom"), body)
    } finally server.stop(0)
  }

  test("S8: CloudWatch chunking — over-limit calls are rejected server-side, " +
      "an oversized partition still delivers every event") {
    import spark.implicits._
    LogShipper.resetStats()
    // limit-ENFORCING server: parses the body and 400s (the service's
    // non-retryable InvalidParameterException) any call that exceeds the
    // configured per-call limits — so a limit-unaware writer could never
    // pass this test no matter how many retries it had
    val maxEvents = 3
    val maxSpan = 1000L
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rejected = new java.util.concurrent.atomic.AtomicInteger(0)
    val tsRe = """"timestamp":(\d+)""".r
    val server = graft.api.HttpApi.loopbackServer(0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      val stamps = tsRe.findAllMatchIn(body).map(_.group(1).toLong).toVector
      val overLimit = stamps.size > maxEvents ||
        (stamps.nonEmpty && stamps.max - stamps.min > maxSpan) ||
        stamps != stamps.sorted // chronological order is also a hard rule
      if (overLimit) { rejected.incrementAndGet(); ex.sendResponseHeaders(400, -1) }
      else { calls.add(body); ex.sendResponseHeaders(200, -1) }
      ex.close()
    })
    server.setExecutor(null)
    server.start()
    val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/"
    try {
      // 8 events in ONE partition: greedy chunking over (0,10,20,30,
      // 5000,5010,5020,5030) with maxEvents=3/maxSpan=1000 gives
      // [0,10,20] (count), [30] (span cut), [5000,5010,5020] (count),
      // [5030] — 4 calls exercising BOTH limits
      val rows = (0 until 4).map(i =>
        graft.model.LogMessage("j1", "ERROR", "db", s"m$i", ts(i * 10L))) ++
        (0 until 4).map(i =>
          graft.model.LogMessage("j1", "ERROR", "db", s"m${4 + i}", ts(5000L + i * 10L)))
      val batch = rows.toDF().repartition(1)
      LogShipper.shipBatch(batch, 11L, Seq(
        LogShipper.Destination("cw", "CLOUDWATCH", Seq("ERROR"),
          retryDelayMillis = 1) ->
          ((b: org.apache.spark.sql.DataFrame, id: Long, d: LogShipper.Destination) =>
            LogShipper.cloudWatchLogsWriter(endpoint, "us-east-1",
              "g", "s", "AKIDTEST", "sk",
              maxEventsPerCall = maxEvents,
              maxSpanMillis = maxSpan)(b.repartition(1), id, d))),
        sleeper = _ => ())
      val st = LogShipper.stats.head
      assert(st.delivered && st.shipped == 8, st.toString)
      assert(rejected.get() == 0, s"writer sent ${rejected.get()} over-limit calls")
      val bodies = calls.toArray(Array.empty[String])
      assert(bodies.length == 4, s"expected 4 limit-respecting calls, got ${bodies.length}")
      // every event delivered exactly once across the chunked calls
      val delivered = bodies.flatMap(b => """m\d""".r.findAllIn(b)).toSeq
      assert(delivered.sorted == (0 until 8).map(i => s"m$i"),
        delivered.mkString(","))
    } finally server.stop(0)
  }

  test("cloudWatchChunks: count, byte, and span limits; order preserved") {
    def ev(ts: Long, msg: String) = (ts, msg)
    // count limit: 25 events -> 10/10/5
    val byCount = LogShipper.cloudWatchChunks(
      Array.tabulate(25)(i => ev(i, "x")), maxEvents = 10)
    assert(byCount.map(_.length) == Seq(10, 10, 5))
    // byte limit: each event is 4 msg bytes + 26 overhead = 30; cap 100
    // fits 3 per chunk
    val byBytes = LogShipper.cloudWatchChunks(
      Array.tabulate(7)(i => ev(i, "abcd")), maxBytes = 100)
    assert(byBytes.map(_.length) == Seq(3, 3, 1))
    // span limit: exactly maxSpan apart stays together, one past splits
    val bySpan = LogShipper.cloudWatchChunks(
      Array(ev(0, "a"), ev(1000, "b"), ev(1001, "c")), maxSpanMillis = 1000)
    assert(bySpan.map(_.map(_._2).toSeq) == Seq(Seq("a", "b"), Seq("c")))
    // multi-byte UTF-8 counts bytes, not chars: "é" = 2 bytes -> 28/event,
    // cap 56 fits exactly 2
    val utf8 = LogShipper.cloudWatchChunks(
      Array.tabulate(3)(i => ev(i, "é")), maxBytes = 56)
    assert(utf8.map(_.length) == Seq(2, 1))
    // order within and across chunks is the input (sorted) order
    assert(byCount.flatten.map(_._1).toSeq == (0L until 25L))
  }

  test("topLevelBool: whitespace-tolerant, nesting- and string-aware") {
    import LogShipper.topLevelBool
    // real ES shape
    assert(topLevelBool("""{"took":5,"errors":true,"items":[]}""", "errors")
      == Some(true))
    // tabs/newlines around the colon (pretty-printed) — the old
    // replace-spaces check missed exactly this
    assert(topLevelBool("{\n\t\"took\" : 7,\n\t\"errors\"\t:\n\ttrue\n}", "errors")
      == Some(true))
    // echoed document body containing the literal substring must NOT
    // false-positive: the real top-level value is false
    assert(topLevelBool(
      """{"errors":false,"items":[{"index":{"error":{"reason":"doc was {\"errors\":true}"}}}]}""",
      "errors") == Some(false))
    // nested-only occurrence (depth 2) is not the top-level key
    assert(topLevelBool("""{"items":[{"errors":true}]}""", "errors") == None)
    assert(topLevelBool("""{"wrapped":{"errors":true},"errors":false}""", "errors")
      == Some(false))
    // absent / non-boolean
    assert(topLevelBool("""{"took":5}""", "errors") == None)
    assert(topLevelBool("""{"errors":"true"}""", "errors") == None)
  }

  test("S8: ES bulk item-error detection survives pretty-printed responses " +
      "and ignores echoed bodies") {
    import spark.implicits._
    LogShipper.resetStats()
    val phase = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = graft.api.HttpApi.loopbackServer(0)
    def respond(ex: com.sun.net.httpserver.HttpExchange, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes); ex.close()
    }
    server.createContext("/_bulk", (ex: com.sun.net.httpserver.HttpExchange) => {
      scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
      phase.getAndIncrement() match {
        // attempt 1: item errors reported in PRETTY-PRINTED JSON (tab
        // before the colon) — must still be detected -> retry
        case 0 => respond(ex, "{\n  \"took\" : 3,\n  \"errors\"\t: true,\n  \"items\" : []\n}")
        // attempt 2: success, but an item's echoed body contains the
        // literal substring "errors":true — must NOT be a failure
        case _ => respond(ex,
          """{"took":1,"errors":false,"items":[{"index":{"status":201,"result":"{\"errors\":true}"}}]}""")
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val batch = Seq(graft.model.LogMessage("j1", "ERROR", "db",
        """payload says "errors":true inside""", ts(0))).toDF().repartition(1)
      LogShipper.shipBatch(batch, 13L, Seq(
        LogShipper.Destination("es", "ELASTICSEARCH", Seq("ERROR"),
          retryDelayMillis = 1) ->
          LogShipper.elasticsearchWriter(
            s"http://127.0.0.1:${server.getAddress.getPort}", "ix")),
        sleeper = _ => ())
      val st = LogShipper.stats.head
      assert(st.delivered && st.attempts == 2, st.toString)
    } finally server.stop(0)
  }

  test("log shipper filters per destination and records stats") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    LogShipper.resetStats()
    val received = scala.collection.mutable.ArrayBuffer.empty[String]
    val dests = Seq(
      LogShipper.Destination("errors", "HTTP_ENDPOINT", Seq("ERROR", "FATAL")) ->
        LogShipper.stubNetworkWriter(p => received.synchronized { received ++= p }),
      LogShipper.Destination("all-info", "FILE", Seq("INFO", "WARN", "ERROR", "FATAL")) ->
        LogShipper.stubNetworkWriter(_ => ()))
    val stream = MemoryStream[graft.model.LogMessage]
    val query = LogShipper.start(stream.toDF(), dests,
      checkpoint = java.nio.file.Files.createTempDirectory("ship").toString,
      triggerMillis = 100)
    try {
      stream.addData(
        graft.model.LogMessage("j1", "ERROR", "db", "boom", ts(0)),
        graft.model.LogMessage("j1", "INFO", "api", "ok", ts(1)),
        graft.model.LogMessage("j1", "DEBUG", "api", "noise", ts(2)))
      query.processAllAvailable()
      val byDest = LogShipper.stats.groupBy(_.destination)
        .view.mapValues(_.map(_.shipped).sum).toMap
      assert(byDest("errors") == 1)   // only the ERROR row
      assert(byDest("all-info") == 2) // ERROR + INFO, DEBUG filtered
      assert(received.exists(_.contains("boom")))
    } finally query.stop()
  }

  test("end-to-end streaming ingestion: quality gate -> decontamination -> dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    // the full corpus-admission pipeline, stateless gates first so the
    // dedup state only ever holds documents that could be admitted
    val stream = MemoryStream[(Long, String)] // (doc_id, text)
    val benchGrams = Seq("held out eval", "secret benchmark phrase")
    val gated = graft.operators.CorpusOps.contaminationGate(
      stream.toDS().toDF("doc_id", "text")
        .filter(graft.functions.RepetitionStatsExpr.of(col("text"))
          .getField("n_tokens") >= 3), // quality gate: >= 3 tokens
      benchGrams, n = 3)
    val admitted = graft.operators.Dedup.streamingDedupFirstSeen(
      gated.select(
        graft.operators.Dedup.storeFingerprint(col("text")).as("fp"),
        col("doc_id"), col("text"))
        .as[(String, Long, String)])
      .toDF("fp", "doc_id", "text")
    val q = admitted.writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      stream.addData(
        (1L, "a perfectly normal training document"),
        (2L, "too short"),                          // quality: 2 tokens
        (3L, "contains the held out eval phrase"),  // contaminated
        (4L, "another good document right here"))
      q.processAllAvailable()
      stream.addData(
        (5L, "a  PERFECTLY normal training document"), // dup of 1 (normalized)
        (6L, "fresh content in the second batch"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM ingest_out")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 4L, 6L))
      // the dedup state never saw the gated docs: a later duplicate of a
      // REJECTED doc is judged on its own merits (3's text minus the
      // bench phrase is fresh -> admitted)
      stream.addData((7L, "contains the held But not that phrase"))
      q.processAllAvailable()
      assert(spark.sql("SELECT doc_id FROM ingest_out").count() == 4)
    } finally q.stop()
  }

  test("streaming curation chain: batch parity with the q217 survivor set at two SFs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{CorpusOps, Dedup, LmOps}
    implicit val sql = spark.sqlContext
    // The q217 stages each have a streaming admission gate; this soak
    // runs them TOGETHER as one chain — surprisal quality gate (vocab
    // trained batch-side, the deployment shape), first-seen exact
    // dedup, capped-gram decon gate — replaying the q217 corpus in
    // doc_id order across micro-batches, and pins TWO parity laws at
    // two scale factors: (1) the chain's admitted set equals q217's
    // pre-budget survivor set s3; (2) the batch budget stage applied
    // to the admitted set equals the REGISTERED q217 query's output
    // row-for-row. (The budget is a packing decision over the final
    // ordered corpus, not an admission gate — it stays batch.)
    for ((dir, tag) <- Seq("/root/testdata/sf0.001" -> "a",
        "/root/testdata/sf0.01" -> "b")) {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val corpus = d.unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("source")))
      // batch-trained artifacts the gates deploy
      val (voc, oov) = LmOps.trainSurprisalVocab(corpus, vocabSize = 16)
      val bench = d.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id"), col("text"))
      val grams = CorpusOps.benchGramTable(bench, n = 8, maxDf = Some(20))
        .collect().map(_.getString(0)).toSeq
      // batch target: q217's s3 (quality -> exact dedup -> decon)
      val scored = LmOps.surprisalScores(corpus, vocabSize = 16,
        threshMilli = 8500L)
      val s1 = corpus.join(scored.filter(!col("low_quality"))
        .select(col("doc_id")), Seq("doc_id"))
      val wd = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val s2 = s1
        .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1).drop("fp", "rn")
      val contaminated = CorpusOps.ngramContamination(
        s2.select(col("doc_id"), col("text")), bench, n = 8, maxDf = Some(20))
        .select(col("train_id").as("doc_id")).distinct()
      val s3ids = s2.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      // the chain, q217's stage order: quality -> dedup -> decon
      val stream = MemoryStream[(Long, String)]
      val admitted = Dedup.streamingDedupFirstSeen(
        LmOps.surprisalGate(stream.toDS().toDF("doc_id", "text"),
          voc, oov, threshMilli = 8500L)
          .select(Dedup.storeFingerprint(col("text")).as("fp"),
            col("doc_id"), col("text"))
          .as[(String, Long, String)])
        .toDF("fp", "doc_id", "text")
      val out = CorpusOps.contaminationGate(admitted, grams, n = 8)
      val q = out.writeStream.format("memory").queryName(s"cur_chain_$tag")
        .outputMode("append").start()
      try {
        // doc_id-ordered replay => first-seen == keep-min-id
        val rows = corpus.select(col("doc_id"), col("text"))
          .orderBy(col("doc_id")).collect()
          .map(r => (r.getLong(0), r.getString(1)))
        rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { chunk =>
          stream.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val got = spark.sql(s"SELECT doc_id FROM cur_chain_$tag")
          .collect().map(_.getLong(0)).toSet
        assert(got == s3ids,
          s"$dir: chain ${got.size} vs batch ${s3ids.size}; " +
            s"extra=${(got diff s3ids).take(5)} missing=${(s3ids diff got).take(5)}")
        // budget over the admitted set == the registered q217 output
        val wb = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val packed = corpus
          .join(got.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
          .withColumn("n_tokens",
            size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
          .withColumn("share",
            when(col("source") === "src0", 300L)
              .when(col("source") === "src1", 10L)
              .when(col("source") === "src2", 0L).otherwise(20L))
          .withColumn("budget", expr("(20000 * share) DIV 1000"))
          .withColumn("cum", sum(col("n_tokens")).over(wb))
          .filter(col("cum") <= col("budget"))
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        val q217 = SparkEntry.queries("q217_curation_pipeline")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        assert(packed == q217,
          s"$dir: budget-packed chain ${packed.size} vs q217 ${q217.size}")
        // the budget stage ITSELF as a streaming gate (BudgetGate),
        // store-and-forward from the chain's admitted set — a second
        // arbitrary stateful operator can't chain inside one
        // append-mode query — replayed in doc_id order: the WHOLE
        // q217 pipeline now has a streamed form, and its output
        // equals the registered query's row-for-row
        val admRows = corpus
          .join(got.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
          .withColumn("n_tokens",
            size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
          .select(col("source"), col("doc_id"), col("n_tokens"))
          .orderBy(col("doc_id"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val bstream = MemoryStream[(String, Long, Long)]
        val bq = graft.streaming.BudgetGate.admit(bstream.toDS(),
          budgets = Map("src0" -> 6000L, "src1" -> 200L, "src2" -> 0L),
          defaultBudget = 400L) // 20000·share DIV 1000, share 20 default
          .toDF("source", "doc_id", "n_tokens")
          .writeStream.format("memory").queryName(s"budget_gate_$tag")
          .outputMode("append").start()
        try {
          admRows.grouped(math.max(1, admRows.length / 3 + 1)).foreach { ch =>
            bstream.addData(ch.toSeq)
            bq.processAllAvailable()
          }
          val streamed = spark.sql(
            s"SELECT doc_id, source, n_tokens FROM budget_gate_$tag")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .toSet
          assert(streamed == q217,
            s"$dir: BudgetGate ${streamed.size} vs q217 ${q217.size}; " +
              s"extra=${(streamed diff q217).take(3)} missing=${(q217 diff streamed).take(3)}")
        } finally bq.stop()
      } finally q.stop()
    }
  }

  test("streaming curation chain with near-dup admission: batch parity and q218 component parity at two SFs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{CorpusOps, Dedup, LmOps}
    implicit val sql = spark.sqlContext
    // The q218 chain streamed END TO END — the near-dup stage (q83's
    // incremental machinery over MinHashStore) inserted between the
    // first-seen exact dedup and the decon gate, via foreachBatch
    // (doc-level admission is an anti-join against stream state, not
    // expressible in append mode — foreachBatch + a persisted store is
    // the production shape anyway). Two laws at two SFs:
    //   1. BATCH-BOUNDARY INVARIANCE: the chunked streamed admission
    //      (+ decon) equals the single-slice batch run of the SAME
    //      registered machinery (admitNearDupFree over all quality/
    //      dedup survivors at once, then the decon anti-join) — state
    //      carried through MinHashStore across micro-batches must
    //      reproduce the one-shot result.
    //   2. q218 COMPONENT PARITY: an online gate keeps the FIRST
    //      arrival per near-dup cluster while q218's batch collapse
    //      keeps the best-by-token-count — the CANONICAL CHOICE
    //      differs by design, the COLLAPSE DECISIONS must not: mapped
    //      through the batch components, the streamed survivors and
    //      q218's keep-best survivors must cover exactly the same
    //      components, one survivor each.
    for ((dir, tag) <- Seq("/root/testdata/sf0.001" -> "a",
        "/root/testdata/sf0.01" -> "b")) {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      // the q218 corpus: exact twins (+2^40) die at the dedup gate,
      // near twins (+2^41, one appended salted token) at the
      // near-dup gate (the collision-clean offset convention)
      val exactOff = 1L << 40
      val nearOff = 1L << 41
      val corpus = d
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + exactOff).as("doc_id"), col("text"),
            col("source")))
        .unionByName(d.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + nearOff).as("doc_id"),
            concat(col("text"), lit(" zzq"),
              (col("doc_id") % 7).cast("string")).as("text"),
            col("source")))
      // batch-trained artifacts the gates deploy
      val (voc, oov) = LmOps.trainSurprisalVocab(corpus, vocabSize = 16)
      val bench = d.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id"), col("text"))
      val grams = CorpusOps.benchGramTable(bench, n = 8, maxDf = Some(20))
        .collect().map(_.getString(0)).toSeq
      // batch s2 (quality -> exact dedup), exactly q218's stages 1-2
      val scored = LmOps.surprisalScores(corpus, vocabSize = 16,
        threshMilli = 8500L)
      val s1 = corpus.join(scored.filter(!col("low_quality"))
        .select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      val wd = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val s2 = s1
        .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1).drop("fp", "rn")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // law-1 target: the registered q83 admission machinery run as
      // ONE slice over all of s2 (empty store), then the batch decon
      val emptyMh = Dedup.minhashed(s2.select(col("doc_id"), col("text"))
        .limit(0), "doc_id", "text", 3, 12, 3)
      val oneSlice = Dedup.admitNearDupFree(
        s2.select(col("doc_id"), col("text")), emptyMh,
        threshold = 0.5, maxBucketSize = Some(100))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val oneSliceIds = oneSlice.select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      val contamT = CorpusOps.ngramContamination(
        oneSlice, bench, n = 8, maxDf = Some(20))
        .select(col("train_id").as("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      val targetIds = oneSliceIds diff contamT
      // law-2 target: q218's stage-3 components + keep-best survivors
      val mh = Dedup.minhashed(s2.select(col("doc_id"), col("text")),
        "doc_id", "text", 3, 12, 3)
      val pairs = Dedup.nearDupPairsFromMinhashed(mh, threshold = 0.5,
        maxBucketSize = Some(100)).select(col("id_a"), col("id_b"))
      val comp = Dedup.connectedComponents(mh.select(col("id")), pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val keptBest = Dedup.keepBestPerComponent(
        Dedup.connectedComponents(mh.select(col("id")), pairs),
        s2.select(col("doc_id").as("id"), col("n_tokens").as("score")))
        .select(col("kept_id")).collect().map(_.getLong(0)).toSet
      // the streamed chain: quality gate -> first-seen dedup ->
      // foreachBatch { near-dup admission vs MinHashStore -> decon }
      val storeDir = java.nio.file.Files
        .createTempDirectory(s"graft-curation-mh-$tag").toString
      graft.sources.MinHashStore.write(emptyMh, storeDir, numFiles = 4)
      val stream = MemoryStream[(Long, String)]
      val gated = Dedup.streamingDedupFirstSeen(
        LmOps.surprisalGate(stream.toDS().toDF("doc_id", "text"),
          voc, oov, threshMilli = 8500L)
          .select(Dedup.storeFingerprint(col("text")).as("fp"),
            col("doc_id"), col("text"))
          .as[(String, Long, String)])
        .toDF("fp", "doc_id", "text")
      var streamedAdmitted = Set.empty[Long] // post near-dup gate
      var streamedFinal = Set.empty[Long]    // post decon gate
      val q = gated.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          if (!batch.isEmpty) {
            val b = batch.select(col("doc_id"), col("text"))
            val store = graft.sources.MinHashStore.read(spark, storeDir)
            val adm = Dedup.admitNearDupFree(b, store,
              threshold = 0.5, maxBucketSize = Some(100))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            graft.sources.MinHashStore.append(spark, storeDir,
              Dedup.minhashed(adm, "doc_id", "text", 3, 12, 3),
              numFiles = 4)
            streamedAdmitted ++= adm.select(col("doc_id"))
              .collect().map(_.getLong(0))
            streamedFinal ++= CorpusOps.contaminationGate(adm, grams, n = 8)
              .select(col("doc_id")).collect().map(_.getLong(0))
            adm.unpersist()
            ()
          }
      }.start()
      try {
        // doc_id-ordered replay => first-seen == min-id-first greedy
        val rows = corpus.select(col("doc_id"), col("text"))
          .orderBy(col("doc_id")).collect()
          .map(r => (r.getLong(0), r.getString(1)))
        rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { chunk =>
          stream.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        // law 1: chunked streamed == single-slice batch, both stages
        assert(streamedAdmitted == oneSliceIds,
          s"$dir: admission ${streamedAdmitted.size} vs one-slice " +
            s"${oneSliceIds.size}; " +
            s"extra=${(streamedAdmitted diff oneSliceIds).take(5)} " +
            s"missing=${(oneSliceIds diff streamedAdmitted).take(5)}")
        assert(streamedFinal == targetIds,
          s"$dir: final ${streamedFinal.size} vs target ${targetIds.size}")
        // law 2: same collapse decisions as q218's keep-best — same
        // components covered, one survivor each (canonical choice
        // legitimately differs: first-seen vs best-by-token-count)
        assert(streamedAdmitted.size == keptBest.size,
          s"$dir: ${streamedAdmitted.size} admitted vs " +
            s"${keptBest.size} keep-best survivors")
        assert(streamedAdmitted.map(comp) == keptBest.map(comp),
          s"$dir: component coverage diverged")
        // the planted near twins provably die at the near-dup gate:
        // every +2^41 variant whose base survived to s2 is absent
        val variantSurvivors = streamedAdmitted.filter(_ >= nearOff)
        val s2ids = s2.select(col("doc_id"))
          .collect().map(_.getLong(0)).toSet
        assert(variantSurvivors.forall(v => !s2ids.contains(v - nearOff)),
          s"$dir: variants admitted alongside their bases: " +
            s"${variantSurvivors.filter(v => s2ids.contains(v - nearOff)).take(5)}")
        // stage 5, streamed: BudgetGate over the chain's survivors
        // (store-and-forward, the q217 soak's shape) — the WHOLE
        // five-stage q218 composition now has a streamed form, pinned
        // equal to the batch budget window over the same survivor set
        // (q218's registered OUTPUT differs only through its
        // keep-best canonical choice, law 2 above)
        val admRows = s2
          .join(streamedFinal.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("source"), col("doc_id"), col("n_tokens"))
          .orderBy(col("doc_id"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val batchPacked = {
          val wb = Window.partitionBy(col("source")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          s2.join(streamedFinal.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
            .withColumn("share",
              when(col("source") === "src0", 300L)
                .when(col("source") === "src1", 10L)
                .when(col("source") === "src2", 0L).otherwise(20L))
            .withColumn("budget", expr("(20000 * share) DIV 1000"))
            .withColumn("cum", sum(col("n_tokens")).over(wb))
            .filter(col("cum") <= col("budget"))
            .select(col("doc_id"), col("source"), col("n_tokens"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .toSet
        }
        val bstream = MemoryStream[(String, Long, Long)]
        val bq = graft.streaming.BudgetGate.admit(bstream.toDS(),
          budgets = Map("src0" -> 6000L, "src1" -> 200L, "src2" -> 0L),
          defaultBudget = 400L)
          .toDF("source", "doc_id", "n_tokens")
          .writeStream.format("memory").queryName(s"nd_budget_$tag")
          .outputMode("append").start()
        try {
          admRows.grouped(math.max(1, admRows.length / 3 + 1)).foreach { ch =>
            bstream.addData(ch.toSeq)
            bq.processAllAvailable()
          }
          val streamedPacked = spark.sql(
            s"SELECT doc_id, source, n_tokens FROM nd_budget_$tag")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .toSet
          assert(streamedPacked == batchPacked,
            s"$dir: five-stage streamed ${streamedPacked.size} vs batch " +
              s"window ${batchPacked.size}")
        } finally bq.stop()
      } finally {
        q.stop()
        s2.unpersist(); oneSlice.unpersist()
      }
    }
  }

  test("budget gate: prefix packing across batches, oversized row closes the group") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // budget 10 on g: weights 4,4,4,1 -> cums 4,8,12,13: rows 1,2 admit,
    // row 3 overflows AND STILL COUNTS (the batch window's cumulative
    // sum includes dropped rows), so row 4 (1 token, would fit 8+1) is
    // refused too — prefix packing, not best-fit. Batch split after
    // row 2 pins the state carry; zero-budget group admits nothing.
    val stream = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.BudgetGate.admit(stream.toDS(),
      budgets = Map("g" -> 10L), defaultBudget = 0L)
      .toDF("g", "id", "w")
      .writeStream.format("memory").queryName("budget_unit")
      .outputMode("append").start()
    try {
      stream.addData(("g", 1L, 4L), ("g", 2L, 4L), ("z", 1L, 1L))
      q.processAllAvailable()
      stream.addData(("g", 3L, 4L), ("g", 4L, 1L))
      q.processAllAvailable()
      val got = spark.sql("SELECT g, id FROM budget_unit")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == Set(("g", 1L), ("g", 2L)), got.toString)
    } finally q.stop()
  }

  test("budget gate: out-of-order id across batches fails loudly, not silently") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the id-ordered-arrival caller contract is VALIDATED: a later
    // micro-batch carrying an id at or below the previously folded max
    // would produce admission decisions diverging from the batch
    // window — the gate must refuse it (the raise_error guard
    // discipline), not absorb it
    val stream = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.BudgetGate.admit(stream.toDS(),
      budgets = Map("g" -> 100L))
      .toDF("g", "id", "w")
      .writeStream.format("memory").queryName("budget_ooo")
      .outputMode("append").start()
    try {
      stream.addData(("g", 5L, 1L))
      q.processAllAvailable()
      stream.addData(("g", 3L, 1L)) // 3 <= folded max 5 -> contract broken
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains("at or below the previously folded id"), msgs)
    } finally q.stop()
    // a DUPLICATE id inside ONE micro-batch throws the same way — the
    // violation must not silently double-charge just because both
    // copies landed on the same side of a batch boundary
    val dup = MemoryStream[(String, Long, Long)]
    val qd = graft.streaming.BudgetGate.admit(dup.toDS(),
      budgets = Map("g" -> 100L))
      .toDF("g", "id", "w")
      .writeStream.format("memory").queryName("budget_dup")
      .outputMode("append").start()
    try {
      dup.addData(("g", 7L, 1L), ("g", 7L, 1L))
      val e2 = intercept[Exception] { qd.processAllAvailable() }
      val msgs2 = Iterator.iterate(e2: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs2.contains("at or below the previously folded id"), msgs2)
    } finally qd.stop()
    // an id of Long.MinValue is a LEGAL first row: the guard keys
    // "has a prior id" on state existence, not a MinValue sentinel
    // (which would reject this row as its own duplicate) — and the
    // NEXT id still folds against it
    val mn = MemoryStream[(String, Long, Long)]
    val qm = graft.streaming.BudgetGate.admit(mn.toDS(),
      budgets = Map("g" -> 100L))
      .toDF("g", "id", "w")
      .writeStream.format("memory").queryName("budget_minval")
      .outputMode("append").start()
    try {
      mn.addData(("g", Long.MinValue, 1L))
      qm.processAllAvailable()
      mn.addData(("g", Long.MinValue + 1, 1L))
      qm.processAllAvailable()
      val gotM = spark.sql("SELECT id FROM budget_minval")
        .collect().map(_.getLong(0)).toSet
      assert(gotM == Set(Long.MinValue, Long.MinValue + 1), gotM.toString)
      mn.addData(("g", Long.MinValue, 1L)) // NOW it's a duplicate
      val e3 = intercept[Exception] { qm.processAllAvailable() }
      val msgs3 = Iterator.iterate(e3: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs3.contains("at or below the previously folded id"), msgs3)
    } finally qm.stop()
  }

  test("streaming span-gate admission: quality gate -> span gate -> first-seen dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    // the persisted corpus' span fingerprints, shipped as a bloom — the
    // gate is a pure per-row predicate, so the whole chain stays
    // stateless until the final dedup
    val corpus = Seq((1L, "s1 s2 s3 s4 s5")).toDF("doc_id", "text")
    val bytes = graft.operators.CorpusOps.spanStoreBloomBytes(
      graft.operators.CorpusOps.spanFingerprints(corpus, n = 4), fpp = 0.01)
    val stream = MemoryStream[(Long, String)]
    val gated = graft.operators.CorpusOps.spanGate(
      stream.toDS().toDF("doc_id", "text")
        .filter(graft.functions.RepetitionStatsExpr.of(col("text"))
          .getField("n_tokens") >= 3), // quality gate first
      bytes, n = 4)
    val admitted = graft.operators.Dedup.streamingDedupFirstSeen(
      gated.select(
        graft.operators.Dedup.storeFingerprint(col("text")).as("fp"),
        col("doc_id"), col("text"))
        .as[(String, Long, String)])
      .toDF("fp", "doc_id", "text")
    val q = admitted.writeStream.format("memory").queryName("span_gate_out")
      .outputMode("append").start()
    try {
      stream.addData(
        (10L, "a1 a2 s1 s2 s3 s4 b1 b2"), // carries a stored span -> gated
        (11L, "x y"),                     // quality: 2 tokens
        (12L, "d1 d2 d3 d4 clean doc"))   // admitted
      q.processAllAvailable()
      stream.addData(
        (13L, "d1  d2 d3 d4 CLEAN doc"),  // dup of 12 (normalized) -> dedup
        (14L, "fresh second batch content here"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM span_gate_out")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(12L, 14L), ids.toString)
    } finally q.stop()
  }

  test("span-gate ingestion loop: batch N+1 gated by what batch N admitted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val admitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch(graft.operators.CorpusOps.spanGateIngest(
        storeDir, n = 4,
        sink = (df, _) => df.select("doc_id").collect()
          .foreach(r => admitted.add(r.getLong(0)))) _)
      .start()
    try {
      // batch 0: empty store admits everything (bootstrap)
      stream.addData((1L, "s1 s2 s3 s4 s5"))
      q.processAllAvailable()
      // batch 1: doc 2 carries a span batch 0 admitted -> gated by the
      // DELTA batch 0 wrote; doc 3 is clean -> admitted
      stream.addData(
        (2L, "x1 x2 s1 s2 s3 s4"),
        (3L, "c1 c2 c3 c4 clean"))
      q.processAllAvailable()
      // batch 2: doc 4 copies doc 3's span -> gated by batch 1's delta
      stream.addData((4L, "c1 c2 c3 c4 другое"))
      q.processAllAvailable()
      assert(admitted.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSet
        == Set(1L, 3L), admitted.toString)
      // the store holds one committed delta per admitting batch
      val store = graft.sources.FingerprintStore.load(spark, storeDir)
      assert(store.count() > 0)
    } finally q.stop()
  }

  test("span-gate ingestion: per-batch work reads rolling filters, not the store") {
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ingest-roll").toString
    val ingest = graft.operators.CorpusOps.spanGateIngest(storeDir, n = 4) _
    // foreachBatch bodies are plain functions — drive two batches directly
    ingest(Seq((1L, "s1 s2 s3 s4 s5")).toDF("doc_id", "text"), 0L)
    ingest(Seq((2L, "c1 c2 c3 c4 clean")).toDF("doc_id", "text"), 1L)
    // each admitting batch persisted its own delta filter
    val blooms = graft.sources.BloomStore.list(spark, s"$storeDir/bloom")
    assert(blooms.size == 2, blooms.toString)
    // the O(store) anti-pattern this guards against: rebuilding the gate
    // filter by re-scanning every stored fingerprint per micro-batch.
    // Proof the rolling path never does: REMOVE the fingerprint rows
    // (delta + base parquet) and the gate must still answer from the
    // persisted filters alone.
    for (sub <- Seq("delta", "base")) {
      val p = java.nio.file.Paths.get(storeDir, sub)
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => { java.nio.file.Files.delete(f); () })
      }
    }
    val bytes = graft.operators.CorpusOps.rollingSpanBloom(spark, storeDir)
    def gateWith(b: Array[Byte]): Set[Long] = graft.operators.CorpusOps.spanGate(
      Seq((9L, "x1 s1 s2 s3 s4"),   // batch-0 span -> dropped
        (10L, "c1 c2 c3 c4 zzz"),   // batch-1 span -> dropped
        (11L, "f1 f2 f3 f4 fresh")) // clean -> kept
        .toDF("doc_id", "text"), b, n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gateWith(bytes) == Set(11L))
    // maintenance fold: many per-delta filters -> one file, same answers
    assert(graft.operators.CorpusOps.compactSpanBlooms(spark, storeDir) == 2)
    assert(graft.sources.BloomStore.list(spark, s"$storeDir/bloom").size == 1)
    assert(gateWith(
      graft.operators.CorpusOps.rollingSpanBloom(spark, storeDir)) == Set(11L))
    // idempotent: nothing left to fold
    assert(graft.operators.CorpusOps.compactSpanBlooms(spark, storeDir) == 0)
  }

  test("span-gate ingestion: a pre-seeded store stays in the gate past batch 0") {
    import spark.implicits._
    // The documented bootstrap scenario: a store built by BATCH
    // ingestion (date-named delta, no filter files) before streaming
    // starts. Batch 0 builds the gate from the store rows; the
    // bootstrap filter it builds MUST persist even though the ingest
    // loop always runs with its own batch id excluded — otherwise
    // batch 1 finds only b0.bloom, takes the files-nonEmpty merge
    // path, and every seeded fingerprint silently leaves the gate.
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ingest-seed").toString
    graft.sources.FingerprintStore.appendDelta(
      graft.operators.CorpusOps.spanFingerprints(
        Seq((100L, "p1 p2 p3 p4 p5")).toDF("doc_id", "text"), n = 4),
      storeDir, "2026-08-14")
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val ingest = graft.operators.CorpusOps.spanGateIngest(storeDir, n = 4,
      sink = (df, _) => {
        admitted += df.select("doc_id").collect().map(_.getLong(0)).toSet
        ()
      }) _
    // batch 0: seeded span gated, fresh doc admitted (bootstrap path)
    ingest(Seq((1L, "x1 p1 p2 p3 p4"), (2L, "a1 a2 a3 a4 a5"))
      .toDF("doc_id", "text"), 0L)
    assert(admitted.last == Set(2L), admitted.last.toString)
    assert(graft.sources.BloomStore.list(spark, s"$storeDir/bloom")
      .exists(_.endsWith("/bootstrap.bloom")),
      "bootstrap filter not persisted — seeded fps leave the gate after batch 0")
    // batch 1: a duplicate of the SEEDED corpus (not of batch 0's
    // admissions) must still be gated — the regression this pins
    ingest(Seq((3L, "y1 p1 p2 p3 p4"),  // seeded span -> gated
      (4L, "z1 a2 a3 a4 a5"),           // batch-0 span -> gated
      (5L, "f1 f2 f3 f4 f5"))           // clean -> admitted
      .toDF("doc_id", "text"), 1L)
    assert(admitted.last == Set(5L), admitted.last.toString)
  }

  test("span-gate ingestion: replaying a committed batch is idempotent, not destructive") {
    import spark.implicits._
    // foreachBatch is at-least-once: a batch's delta + filter can commit
    // while the streaming log does not, and the SAME batchId replays.
    // The replay must reproduce the original admissions — not gate the
    // batch against its own prior write, admit nothing, and overwrite
    // the delta with the empty set (permanent fingerprint loss).
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ingest-replay").toString
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val ingest = graft.operators.CorpusOps.spanGateIngest(storeDir, n = 4,
      sink = (df, _) => {
        admitted += df.select("doc_id").collect().map(_.getLong(0)).toSet
        ()
      }) _
    val b0 = Seq((1L, "s1 s2 s3 s4 s5")).toDF("doc_id", "text")
    ingest(b0, 0L)
    assert(admitted.last == Set(1L))
    // crash-replay of batch 0 (its delta + filter are already committed)
    ingest(b0, 0L)
    assert(admitted.last == Set(1L),
      "replay self-gated: the batch was suppressed by its own prior write")
    // the store still holds batch 0's fingerprints after the replay...
    assert(graft.sources.FingerprintStore.load(spark, storeDir).count() > 0,
      "replay overwrote the batch delta with the empty set")
    // ...so a LATER batch carrying batch 0's span is still gated
    ingest(Seq((2L, "x1 s1 s2 s3 s4"), (3L, "f1 f2 f3 f4"))
      .toDF("doc_id", "text"), 1L)
    assert(admitted.last == Set(3L), admitted.last.toString)
  }

  test("span-gate ingestion: a store grown past the filter capacity falls back to the exact gate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The 100 TB cliff this pins: the rolling filter's geometry is fixed
    // at stream birth, and for a DROP-policy gate a saturated filter's
    // false positives are dropped CLEAN documents. Capacity 8 here plays
    // the role of 4.2M at scale; batch 0 stores ~hundreds of distinct
    // fps, saturating the 8-item geometry essentially to all-ones.
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ingest-sat").toString
    val cap = 8L
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val ingest = graft.operators.CorpusOps.spanGateIngest(storeDir, n = 4,
      bloomCapacity = cap,
      sink = (df, _) => {
        admitted += df.select("doc_id").collect().map(_.getLong(0)).toSet
        ()
      }) _
    // batch 0: 60 docs x 5 windows -> ~300 distinct fps into the store
    val seed = (1 to 60).map(i =>
      (i.toLong, s"a$i b$i c$i d$i e$i f$i g$i h$i"))
    ingest(seed.toDF("doc_id", "text"), 0L)
    assert(admitted.last.size == 60, "empty store must admit everything")
    val stored = graft.operators.CorpusOps.storedSpanItems(spark, storeDir)
    assert(stored > cap, s"store must exceed capacity, counted $stored")
    // batch 1: clean docs + one true duplicate of a stored span + one
    // sub-n doc (no windows, always admitted)
    val b1 = Seq(
      (1001L, "fresh w1 w2 w3 w4 w5"),    // clean -> must be admitted
      (1002L, "more v1 v2 v3 v4 words"),  // clean -> must be admitted
      (1003L, "zz a5 b5 c5 d5"),          // stored span -> must be gated
      (1004L, "too short")                // < n tokens -> admitted
    ).toDF("doc_id", "text")
    // the saturated rolling filter is the cliff: it drops the clean docs
    val satBloom = graft.operators.CorpusOps.rollingSpanBloom(
      spark, storeDir, capacity = cap, excludeBatchId = Some("b1"))
    val bloomSays = graft.operators.CorpusOps.spanGate(b1, satBloom, n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!bloomSays.contains(1001L) && !bloomSays.contains(1002L),
      s"expected the saturated filter to drop the clean docs, kept $bloomSays")
    // ...but the ingest loop's admissions equal the EXACT anti-join
    val exact = graft.operators.CorpusOps.spanGateExact(b1,
      graft.sources.FingerprintStore.load(spark, storeDir,
        excludeDelta = Some("b1")), n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(1001L, 1002L, 1004L), exact.toString)
    ingest(b1, 1L)
    assert(admitted.last == exact,
      s"saturated gate diverged from exact: ${admitted.last} vs $exact")
    // replay of the committed batch in the exact regime stays idempotent
    ingest(b1, 1L)
    assert(admitted.last == exact, "exact-regime replay self-gated")
    // batch 2 is gated by what batch 1 admitted (exact regime end-to-end)
    ingest(Seq((2001L, "x fresh w1 w2 w3 w4"), (2002L, "brand new q1 q2 q3 q4"))
      .toDF("doc_id", "text"), 2L)
    assert(admitted.last == Set(2002L), admitted.last.toString)
    // compaction folds filters AND count sidecars; the regime survives it
    assert(graft.operators.CorpusOps.compactSpanBlooms(spark, storeDir) > 0)
    val foldedCount = graft.operators.CorpusOps.storedSpanItems(spark, storeDir)
    assert(foldedCount >= stored, s"count lost in fold: $foldedCount < $stored")
    ingest(Seq((3001L, "brand new q1 q2 q3 q4"), (3002L, "all fresh r1 r2 r3 r4"))
      .toDF("doc_id", "text"), 3L)
    assert(admitted.last == Set(3002L), admitted.last.toString)
  }

  test("span-gate soak: 100 micro-batches with periodic compaction stay flat and bounded") {
    import spark.implicits._
    // Steady-state proof for the rolling-gate design: per-batch cost is
    // O(batch + filter files), so a long-running stream with periodic
    // maintenance (compactSpanBlooms + FingerprintStore.compact on the
    // quiesced stream) must show FLAT per-batch wall time and BOUNDED
    // file counts — the O(store)-per-batch anti-pattern this replaced
    // would grow per-batch time linearly (~5x across this run).
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ingest-soak").toString
    var admitted = 0L
    val ingest = graft.operators.CorpusOps.spanGateIngest(storeDir, n = 4,
      sink = (df, _) => { admitted += df.count(); () }) _
    val times = new Array[Double](100)
    var prevFirst = ""
    for (b <- 0 until 100) {
      val fresh = (0 until 3).map(i =>
        ((b * 10 + i).toLong, s"w${b}_$i x${b}_$i y${b}_$i z${b}_$i tail"))
      val docs = if (b == 0) fresh
        else fresh :+ ((b * 10 + 9).toLong, prevFirst) // dup of batch b-1
      prevFirst = fresh.head._2
      val t0 = System.nanoTime()
      ingest(docs.toDF("doc_id", "text"), b.toLong)
      times(b) = (System.nanoTime() - t0) / 1e9
      if (b % 20 == 19) {
        graft.operators.CorpusOps.compactSpanBlooms(spark, storeDir)
        graft.sources.FingerprintStore.compact(spark, storeDir)
        assert(graft.sources.BloomStore.list(spark, s"$storeDir/bloom").size == 1,
          s"fold left more than one filter at batch $b")
      }
    }
    // every dup was gated, every fresh doc admitted — across compactions
    assert(admitted == 3 + 99 * 3, s"admitted $admitted")
    // file counts bounded by the maintenance cadence, not the stream age
    assert(graft.sources.BloomStore.list(spark, s"$storeDir/bloom").size <= 21)
    // flatness: medians are robust to host throttle spikes; O(store)
    // growth would put the late window far past 3x the early one
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val early = median(times.slice(10, 40).toSeq)
    val late = median(times.slice(70, 100).toSeq)
    assert(late / early < 3.0,
      f"per-batch time grew: early=$early%.3fs late=$late%.3fs (${late / early}%.2fx)")
  }

  test("span-gate ingestion: a pre-seeded store past capacity gates exactly from batch 0") {
    import spark.implicits._
    // storedSpanItems must not answer 0 for a virgin store with no
    // sidecars — it counts the rows once (the same one-time pass the
    // filter bootstrap pays) so a giant batch-built store never spends
    // a single batch behind a saturated filter.
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ingest-satseed").toString
    val seed = (1 to 60).map(i =>
      (i.toLong, s"a$i b$i c$i d$i e$i f$i g$i h$i"))
    graft.sources.FingerprintStore.appendDelta(
      graft.operators.CorpusOps.spanFingerprints(
        seed.toDF("doc_id", "text"), n = 4), storeDir, "2026-08-14")
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val ingest = graft.operators.CorpusOps.spanGateIngest(storeDir, n = 4,
      bloomCapacity = 8L,
      sink = (df, _) => {
        admitted += df.select("doc_id").collect().map(_.getLong(0)).toSet
        ()
      }) _
    ingest(Seq(
      (1001L, "fresh w1 w2 w3 w4 w5"),   // clean: saturated bloom would drop it
      (1002L, "zz a5 b5 c5 d5"))         // seeded span -> gated
      .toDF("doc_id", "text"), 0L)
    assert(admitted.last == Set(1001L), admitted.last.toString)
    // the one-time bootstrap still persisted a complete (if saturated)
    // filter set for direct rollingSpanBloom consumers
    assert(graft.sources.BloomStore.list(spark, s"$storeDir/bloom")
      .exists(_.endsWith("/bootstrap.bloom")))
    // batch 1 is gated against batch 0's admissions too
    ingest(Seq((2001L, "x fresh w1 w2 w3 w4"), (2002L, "clean k1 k2 k3 k4"))
      .toDF("doc_id", "text"), 1L)
    assert(admitted.last == Set(2002L), admitted.last.toString)
  }

  test("streaming semantic gate: per-row max-cosine admission vs a literal bench set") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // bench = one eval embedding; a paraphrase-copy points the same way
    // (cosine ≈ 1 against it), a clean doc is near-orthogonal
    val bench = Seq(Seq(1.0f, 0.0f, 0.0f, 0.0f))
    val stream = MemoryStream[(Long, Array[Float])]
    val gated = graft.operators.Similarity.semanticGate(
      stream.toDS().toDF("doc_id", "embedding"), bench, tau = 0.95)
    val q = gated.writeStream.format("memory").queryName("sem_gate_out")
      .outputMode("append").start()
    try {
      stream.addData(
        (1L, Array(0.99f, 0.1f, 0f, 0f)),   // cosine ~0.995 -> dropped
        (2L, Array(0.1f, 0.99f, 0f, 0f)),   // near-orthogonal -> admitted
        (3L, Array(-1f, 0f, 0f, 0f)))       // opposite direction -> admitted
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM sem_gate_out")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 3L), ids.toString)
    } finally q.stop()
    // batch parity: the gate equals semanticContamination's flag
    val batch = Seq(
      (1L, Seq(0.99f, 0.1f, 0f, 0f)),
      (2L, Seq(0.1f, 0.99f, 0f, 0f))).toDF("doc_id", "embedding")
    val kept = graft.operators.Similarity.semanticGate(batch, bench, tau = 0.95)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("streaming funnel: cross-batch advance, strict order, batch parity") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEvent
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[FunnelEvent]
    val q = StreamingFunnel.advance(stream.toDS(), numSteps = 3)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // batch 1: u1 view+click arrive OUT of ts order within the batch
      // (the group sort absorbs it); u2 click with no view -> nothing;
      // u3 click at exactly its view ts -> strict > rejects step 2
      stream.addData(
        FunnelEvent(1L, 2, ts("2025-01-01 10:01:00")),
        FunnelEvent(1L, 1, ts("2025-01-01 10:00:00")),
        FunnelEvent(2L, 2, ts("2025-01-01 09:00:00")),
        FunnelEvent(3L, 1, ts("2025-01-01 10:00:00")),
        FunnelEvent(3L, 2, ts("2025-01-01 10:00:00")))
      q.processAllAvailable()
      val b1 = spark.sql("SELECT userId, step FROM funnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(b1 == Set((1L, 1), (1L, 2), (3L, 1)))
      // batch 2: u1 purchases (state carried across batches); u2's view
      // arrives now — too late for its batch-1 click, step 1 only;
      // a duplicate u1 click is ignored (funnel already past step 2)
      stream.addData(
        FunnelEvent(1L, 3, ts("2025-01-01 10:02:00")),
        FunnelEvent(2L, 1, ts("2025-01-01 10:00:00")),
        FunnelEvent(1L, 2, ts("2025-01-01 10:03:00")))
      q.processAllAvailable()
      val all = spark.sql("SELECT userId, step, ts FROM funnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2)))
      assert(all.map(t => (t._1, t._2)).toSet ==
        Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1)))
      // parity with the batch operator on the in-order union (u1: all
      // events in event-time order across batches -> identical times)
      val batchEvents = Seq(
        (1L, "s1", ts("2025-01-01 10:00:00")),
        (1L, "s2", ts("2025-01-01 10:01:00")),
        (1L, "s3", ts("2025-01-01 10:02:00")),
        (1L, "s2", ts("2025-01-01 10:03:00"))).toDF("user_id", "et", "ts")
      val batchRow = graft.operators.Funnel.funnel(batchEvents, "user_id", "ts",
        Seq("a" -> (org.apache.spark.sql.functions.col("et") === "s1"),
          "b" -> (org.apache.spark.sql.functions.col("et") === "s2"),
          "c" -> (org.apache.spark.sql.functions.col("et") === "s3"))).head()
      val streamU1 = all.filter(_._1 == 1L).sortBy(_._2).map(_._3)
      assert(Seq(batchRow.getTimestamp(1), batchRow.getTimestamp(2),
        batchRow.getTimestamp(3)) == streamU1.toSeq)
    } finally q.stop()
  }

  test("streaming sessionize: closed sessions match batch byGap summaries") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingSessionize
    import graft.streaming.StreamingSessionize.{ClosedSession, SessionEvent}
    import org.apache.spark.sql.functions._
    val stream = MemoryStream[SessionEvent]
    val q = StreamingSessionize.sessions(
      stream.toDS().withWatermark("ts", "0 seconds"), gapMillis = 10000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: u1 two events 4 s apart; u2 one event
      stream.addData(SessionEvent(1L, ts(1000)), SessionEvent(1L, ts(5000)),
        SessionEvent(2L, ts(2000)))
      q.processAllAvailable()
      // batch 2: u1 jumps 20 s -> event-path close of session 1 (no quiet
      // trigger needed); u2 extends within gap
      stream.addData(SessionEvent(1L, ts(25000)), SessionEvent(2L, ts(9000)))
      q.processAllAvailable()
      // u1's first session closed by the EVENT path (gap exceeded inside
      // batch 2) — visible immediately; Spark may also have run a no-data
      // batch on the watermark advance and timeout-closed u2's idle
      // session, so assert containment, not equality
      val afterGap = spark.table("sess_out").as[ClosedSession].collect()
        .map(c => (c.userId, c.startTs, c.endTs, c.nEvents)).toSet
      assert(afterGap.contains((1L, ts(1000), ts(5000), 2L)),
        s"gap close must not wait for timeout: $afterGap")
      // sentinel far-future events advance the watermark, then one more
      // trigger fires the EventTimeTimeout that closes the idle sessions
      stream.addData(SessionEvent(99L, ts(10000000)))
      q.processAllAvailable()
      stream.addData(SessionEvent(98L, ts(20000000)))
      q.processAllAvailable()
      val got = spark.table("sess_out").as[ClosedSession].collect()
        .filter(_.userId < 90L)
        .map(c => (c.userId, c.startTs, c.endTs, c.nEvents)).toSet
      // batch equivalent over the same (in-order) event feed
      val batch = Seq((1L, ts(1000)), (1L, ts(5000)), (1L, ts(25000)),
        (2L, ts(2000)), (2L, ts(9000))).toDF("user_id", "ts")
        .withColumn("seq", monotonically_increasing_id())
      val want = graft.operators.Sessionize
        .byGap(batch, "user_id", "ts", "seq", gapSeconds = 10)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
          r.getLong(4))).toSet
      assert(got == want, s"streaming $got vs batch $want")
    } finally q.stop()
  }

  test("streaming funnel: out-of-order cross-batch contract + event-time TTL") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEvent
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[FunnelEvent]
    // conversion window (= state TTL) of one minute, zero watermark delay
    val q = StreamingFunnel.advance(
      stream.toDS().withWatermark("ts", "0 seconds"),
      numSteps = 3, ttlMillis = Some(60000L))
      .writeStream.format("memory").queryName("funnel_ttl_out")
      .outputMode("append").start()
    def rows() = spark.sql("SELECT userId, step FROM funnel_ttl_out")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    try {
      // batch 1: u1 starts; u2's step-2 arrives BEFORE its step-1's batch
      stream.addData(
        FunnelEvent(1L, 1, ts("2025-01-01 10:00:00")),
        FunnelEvent(2L, 2, ts("2025-01-01 10:00:30")))
      q.processAllAvailable()
      assert(rows().toSet == Set((1L, 1)), "early step-2 is NOT buffered")
      // batch 2: u2's step-1 lands, and a RE-DELIVERED step-2 — only the
      // re-delivery advances (the pinned no-buffering contract: streaming
      // progress is a lower bound on the batch funnel under cross-batch
      // disorder, recovered exactly by re-delivery)
      stream.addData(
        FunnelEvent(2L, 1, ts("2025-01-01 10:00:40")),
        FunnelEvent(2L, 2, ts("2025-01-01 10:00:50")))
      q.processAllAvailable()
      assert(rows().toSet == Set((1L, 1), (2L, 1), (2L, 2)))
      // batches 3-4: push the watermark past u1's window (10:01:00);
      // EventTimeTimeout fires in the batch AFTER the watermark passes,
      // so a second carrier batch lets the expiry actually run
      stream.addData(FunnelEvent(9L, 1, ts("2025-01-01 10:05:00")))
      q.processAllAvailable()
      stream.addData(FunnelEvent(8L, 1, ts("2025-01-01 10:06:00")))
      q.processAllAvailable()
      // batch 5: u1's state expired — step-2 no longer advances (the
      // funnel was abandoned), while a fresh step-1 RESTARTS the funnel
      // and re-emits a step-1 progress row (attempt semantics under TTL)
      stream.addData(
        FunnelEvent(1L, 2, ts("2025-01-01 10:06:30")),
        FunnelEvent(1L, 1, ts("2025-01-01 10:07:00")))
      q.processAllAvailable()
      val u1 = rows().filter(_._1 == 1L)
      assert(u1.count(_._2 == 1) == 2, s"restart re-emits step 1: ${u1.toSeq}")
      assert(!u1.exists(_._2 == 2), s"expired funnel must not advance: ${u1.toSeq}")
    } finally q.stop()
  }

  test("streaming windowed funnel: batch parity with the q96 conversion window") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEvent
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the q96 scenario, streamed: a 60 s conversion window; u1 converts
    // fully in-window, u2's step-2 lands OUTSIDE the window (must not
    // convert), u3's step-2 lands at EXACTLY anchor+window (inclusive
    // bound — must convert). In-order events, no restarts: on this
    // ground the streaming state machine must equal the batch operator.
    // batch split at index 5; every batch-2 event sits above batch 1's
    // closing watermark (10:00:50), so nothing is dropped as late and
    // the parity ground is purely the window rule
    val events = Seq(
      FunnelEvent(1L, 1, ts("2025-01-01 10:00:00")),
      FunnelEvent(1L, 2, ts("2025-01-01 10:00:30")),
      FunnelEvent(1L, 3, ts("2025-01-01 10:00:50")),
      FunnelEvent(2L, 1, ts("2025-01-01 10:00:00")),
      FunnelEvent(3L, 1, ts("2025-01-01 10:00:40")),
      FunnelEvent(2L, 2, ts("2025-01-01 10:02:00")),
      FunnelEvent(3L, 2, ts("2025-01-01 10:01:40")))
    val stream = MemoryStream[FunnelEvent]
    val q = StreamingFunnel.advance(
      stream.toDS().withWatermark("ts", "0 seconds"),
      numSteps = 3, ttlMillis = Some(60000L))
      .writeStream.format("memory").queryName("funnel_win_out")
      .outputMode("append").start()
    try {
      // two in-order batches so cross-batch state carries
      stream.addData(events.take(5))
      q.processAllAvailable()
      stream.addData(events.drop(5))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT userId, step, ts FROM funnel_win_out")
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getTimestamp(2)).toMap
      val batch = graft.operators.Funnel.funnel(
        events.map(e => (e.userId, e.step, e.ts)).toDF("user_id", "step", "ts"),
        "user_id", "ts",
        Seq("a" -> (col("step") === 1), "b" -> (col("step") === 2),
          "c" -> (col("step") === 3)),
        windowMillis = Some(60000L))
      val expected = batch.collect().flatMap { r =>
        Seq(1, 2, 3).flatMap { k =>
          Option(r.getTimestamp(k)).map(t => (r.getLong(0), k) -> t)
        }
      }.toMap
      assert(streamed == expected,
        s"streamed=$streamed\nexpected=$expected")
      // and the specific window semantics the scenario plants
      assert(streamed.contains((1L, 3)), "u1 converts in-window")
      assert(!streamed.contains((2L, 2)), "u2 step-2 is outside the window")
      assert(streamed.contains((3L, 2)), "anchor+window is inclusive")
    } finally q.stop()
  }

  test("streaming funnel curve: running users-per-step in update mode") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEvent
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[FunnelEvent]
    val q = StreamingFunnel.curve(
      StreamingFunnel.advance(stream.toDS(), numSteps = 2))
      .writeStream.format("memory").queryName("curve_out")
      .outputMode("complete").start()
    try {
      stream.addData(
        FunnelEvent(1L, 1, ts("2025-01-01 10:00:00")),
        FunnelEvent(2L, 1, ts("2025-01-01 10:00:00")))
      q.processAllAvailable()
      def curve() = spark.sql("SELECT step, n_users FROM curve_out")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(curve() == Map(1 -> 2L))
      stream.addData(FunnelEvent(1L, 2, ts("2025-01-01 10:01:00")))
      q.processAllAvailable()
      assert(curve() == Map(1 -> 2L, 2 -> 1L)) // counts accumulate
    } finally q.stop()
  }

  test("streaming near-dup matches against a static minhashed store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val storeText = "alpha beta gamma delta epsilon zeta eta theta iota"
    val storeMh = graft.operators.Dedup.minhashed(
      Seq((100L, storeText),
          (200L, "one two three four five six seven eight nine"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 3, 12, 3)
    val stream = MemoryStream[(Long, String)]
    val q = graft.operators.Dedup.streamingNearDupMatches(
      stream.toDS().toDF("doc_id", "text"), storeMh)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      stream.addData(
        (1L, storeText),                       // exact dup of store 100
        (2L, "completely unrelated fresh words here today"))
      q.processAllAvailable()
      stream.addData((3L, storeText))          // dup arriving later
      q.processAllAvailable()
      val pairs = spark.sql("SELECT new_id, store_id, jaccard FROM neardup_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairs == Set((1L, 100L, 1.0), (3L, 100L, 1.0)))
    } finally q.stop()
  }

  test("streaming near-dup with event-time: watermarked dedup, same matches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val storeText = "alpha beta gamma delta epsilon zeta eta theta iota"
    val storeMh = graft.operators.Dedup.minhashed(
      Seq((100L, storeText)).toDF("doc_id", "text"), "doc_id", "text", 3, 12, 3)
    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = graft.operators.Dedup.streamingNearDupMatches(
      stream.toDS().toDF("doc_id", "text", "ts"), storeMh,
      eventTime = Some(("ts", "10 minutes")))
      .writeStream.format("memory").queryName("neardup_wm_out")
      .outputMode("append").start()
    try {
      stream.addData((1L, storeText, ts(0)), (2L, "unrelated words", ts(1000)))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT new_id, store_id FROM neardup_wm_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the multi-band duplicate emits ONCE despite matching through
      // several band keys, and state is watermark-bounded
      assert(pairs == Set((1L, 100L)))
    } finally q.stop()
  }

  test("LM gate soak: 60 micro-batches, flat per-batch time, exact admission") {
    import spark.implicits._
    import graft.operators.LmOps
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Deployment shape: train both capped models ONCE on a reference
    // corpus, then gate a long-running stream. The soak proves what the
    // single-batch parity specs can't: per-batch cost stays FLAT over a
    // sustained run (the gates are pure per-row predicates — no state,
    // no store to grow), and admission stays EXACT on every batch (the
    // driver twin below recomputes each probe's arithmetic with plain
    // folds — independent of the executor-side hash-probe expressions).
    val trainDocs = Seq.tabulate(64)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val (voc, oov) = LmOps.trainSurprisalVocab(trainDocs, vocabSize = 8)
    val (big, uni, boov) = LmOps.trainBigramVocab(trainDocs,
      bigramVocab = 16, unigramVocab = 8)
    val (kn, koov) = LmOps.trainKnVocab(trainDocs, topK = 16)
    val uThresh = 3000L
    val bThresh = 3000L
    val kThresh = 3000L
    def uniAdmit(text: String): Boolean = {
      val ts = text.split("\\s+").filter(_.nonEmpty)
      ts.nonEmpty &&
        ts.map(t => voc.getOrElse(t, oov)).sum * 1000L <= uThresh * ts.length
    }
    def bigAdmit(text: String): Boolean = {
      val ts = text.split("\\s+").filter(_.nonEmpty)
      ts.length > 1 && ts.sliding(2).map(p =>
        big.getOrElse(p(0) + " " + p(1), uni.getOrElse(p(1), boov))).sum *
        1000L <= bThresh * (ts.length - 1)
    }
    def knAdmit(text: String): Boolean = {
      val ts = text.split("\\s+").filter(_.nonEmpty)
      ts.length > 1 && ts.sliding(2).map(p =>
        kn.getOrElse(p(0) + " " + p(1), koov)).sum *
        1000L <= kThresh * (ts.length - 1)
    }
    // mink gate twin: plain sort + top-k fold, independent of the
    // executor-side expression's buffer/selection mechanics. The gate
    // ADMITS non-members (and zero-bigram docs): worst-k% positions
    // still probable == suspected member == dropped.
    val mPct = 500L
    val mThresh = 3000L
    def minkAdmit(text: String): Boolean = {
      val ts = text.split("\\s+").filter(_.nonEmpty)
      if (ts.length < 2) true
      else {
        val sb = ts.sliding(2).map(p =>
          big.getOrElse(p(0) + " " + p(1), uni.getOrElse(p(1), boov)))
          .toArray.sorted
        val nb = ts.length - 1
        val k = ((mPct * nb + 999L) / 1000L).toInt
        sb.takeRight(k).sum * 1000L > mThresh * k
      }
    }
    val uStream = MemoryStream[(Long, String)]
    val bStream = MemoryStream[(Long, String)]
    val kStream = MemoryStream[(Long, String)]
    val mStream = MemoryStream[(Long, String)]
    val uQ = LmOps.surprisalGate(uStream.toDS().toDF("doc_id", "text"),
      voc, oov, threshMilli = uThresh)
      .writeStream.format("memory").queryName("lm_gate_soak_u")
      .outputMode("append").start()
    val bQ = LmOps.bigramSurprisalGate(bStream.toDS().toDF("doc_id", "text"),
      big, uni, boov, threshMilli = bThresh)
      .writeStream.format("memory").queryName("lm_gate_soak_b")
      .outputMode("append").start()
    val kQ = LmOps.knSurprisalGate(kStream.toDS().toDF("doc_id", "text"),
      kn, koov, threshMilli = kThresh)
      .writeStream.format("memory").queryName("lm_gate_soak_k")
      .outputMode("append").start()
    val mQ = LmOps.minkGate(mStream.toDS().toDF("doc_id", "text"),
      big, uni, boov, pctMilli = mPct, threshMilli = mThresh)
      .writeStream.format("memory").queryName("lm_gate_soak_m")
      .outputMode("append").start()
    val times = new Array[Double](60)
    val expectU = scala.collection.mutable.Set.empty[Long]
    val expectB = scala.collection.mutable.Set.empty[Long]
    val expectK = scala.collection.mutable.Set.empty[Long]
    val expectM = scala.collection.mutable.Set.empty[Long]
    try {
      for (b <- 0 until 60) {
        // per-batch mix varies with b: in-model docs, OOV junk, empties,
        // and a bigram-breaking shuffle (good tokens, unseen transitions)
        val docs = (0 until 20).map { i =>
          val id = b * 100L + i
          val text = (i % 4) match {
            case 0 => "the quick brown fox jumps over the lazy dog"
            case 1 => s"zz$b-$i qq$b-$i vv$b-$i ww$b-$i xx$b-$i yy$b-$i"
            case 2 => if (i % 8 == 2) "" else s"dog lazy the over jumps fox w$b"
            case _ => s"the quick brown fox w$b-$i"
          }
          (id, text)
        }
        docs.foreach { case (id, t) =>
          if (uniAdmit(t)) expectU += id
          if (bigAdmit(t)) expectB += id
          if (knAdmit(t)) expectK += id
          if (minkAdmit(t)) expectM += id
        }
        val t0 = System.nanoTime()
        uStream.addData(docs)
        bStream.addData(docs)
        kStream.addData(docs)
        mStream.addData(docs)
        uQ.processAllAvailable()
        bQ.processAllAvailable()
        kQ.processAllAvailable()
        mQ.processAllAvailable()
        times(b) = (System.nanoTime() - t0) / 1e9
      }
      val gotU = spark.sql("SELECT doc_id FROM lm_gate_soak_u")
        .collect().map(_.getLong(0)).toSet
      val gotB = spark.sql("SELECT doc_id FROM lm_gate_soak_b")
        .collect().map(_.getLong(0)).toSet
      val gotK = spark.sql("SELECT doc_id FROM lm_gate_soak_k")
        .collect().map(_.getLong(0)).toSet
      val gotM = spark.sql("SELECT doc_id FROM lm_gate_soak_m")
        .collect().map(_.getLong(0)).toSet
      assert(gotU == expectU.toSet,
        s"unigram gate drift: extra=${gotU -- expectU} missing=${expectU -- gotU}")
      assert(gotB == expectB.toSet,
        s"bigram gate drift: extra=${gotB -- expectB} missing=${expectB -- gotB}")
      assert(gotK == expectK.toSet,
        s"KN gate drift: extra=${gotK -- expectK} missing=${expectK -- gotK}")
      assert(gotM == expectM.toSet,
        s"mink gate drift: extra=${gotM -- expectM} missing=${expectM -- gotM}")
      // the mix must exercise both sides of all three gates
      assert(expectU.nonEmpty && expectU.size < 60 * 20)
      assert(expectB.nonEmpty && expectB.size < 60 * 20)
      assert(expectK.nonEmpty && expectK.size < 60 * 20)
      assert(expectM.nonEmpty && expectM.size < 60 * 20)
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val early = median(times.slice(5, 25).toSeq)
      val late = median(times.slice(40, 60).toSeq)
      assert(late / early < 3.0,
        f"per-batch time grew: early=$early%.3fs late=$late%.3fs (${late / early}%.2fx)")
    } finally { uQ.stop(); bQ.stop(); kQ.stop(); mQ.stop() }
  }

  test("SCD2 ingest: streamed feed serves the batch history across replay and compaction") {
    import spark.implicits._
    import graft.streaming.Scd2Ingest
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2").toString
    // three batches of (k, attr, ts_us, seq) changes: key 1 walks
    // a -> b -> b(no-op) -> c across the batches, key 2 appears in
    // batch 2, key 3 flips twice inside batch 3
    val batches = Seq(
      Seq((1L, "a", 1000L, 1L), (1L, "b", 2000L, 2L)),
      Seq((1L, "b", 3000L, 3L), (2L, "x", 2500L, 4L)),
      Seq((1L, "c", 4000L, 5L), (3L, "p", 4100L, 6L), (3L, "q", 4200L, 7L)))
    def expect(upTo: Int) = graft.operators.Scd2.history(
      batches.take(upTo).flatten.toDF("k", "attr", "ts_us", "seq"),
      "k", Seq("attr"), "ts_us", "seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4),
        r.getBoolean(5))).toSet
    def served() = Scd2Ingest.serve(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4),
        r.getBoolean(5))).toSet
    Scd2Ingest.ingest(batches(0).toDF("k", "attr", "ts_us", "seq"), dir, "b0")
    assert(served() == expect(1), "after batch 0")
    Scd2Ingest.ingest(batches(1).toDF("k", "attr", "ts_us", "seq"), dir, "b1")
    // replay batch 1 (foreachBatch retry): same batch id overwrites its
    // own delta — served table unchanged
    Scd2Ingest.ingest(batches(1).toDF("k", "attr", "ts_us", "seq"), dir, "b1")
    assert(served() == expect(2), "after batch 1 + replay")
    val asOfB0 = Scd2Ingest.serveAsOf(spark, dir, "b0")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(asOfB0 == Set((1L, "a"), (1L, "b")), s"as-of b0: $asOfB0")
    assert(graft.sources.ChangeFeedStore.compact(spark, dir, 2) >= 1)
    assert(served() == expect(2), "after compaction")
    Scd2Ingest.ingest(batches(2).toDF("k", "attr", "ts_us", "seq"), dir, "b2")
    assert(served() == expect(3), "after batch 2 over the compacted base")
    // no-op suppression survived the boundary: key 1's b-change in
    // batch 2 collapsed into the batch-1 version
    val key1 = Scd2Ingest.serve(spark, dir)
      .filter(org.apache.spark.sql.functions.col("k") === 1L)
      .select("seq").collect().map(_.getLong(0)).toSet
    assert(key1 == Set(1L, 2L, 5L), s"key 1 versions: $key1")
  }
}

package perfbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, set up [[Main.Setups]] times, one
  * measured window, correctness checks, and one result line on stdout
  * prefixed with [[Main.ResultPrefix]] (run.py turns it into the final
  * line). With `--trace 1` the untraced window is followed by a traced one
  * (the [[Ledger]] installed) and another untraced one, all of the same
  * length, and the run reports per-layer metrics plus the tracing
  * overhead against the mean of the two untraced windows. */
object Main {
  val ResultPrefix = "PERFBENCH_RESULT "

  /** Set-ups before the window; `setup_s` spans all of them, the first
    * in a cold JVM and the rest warm. */
  val Setups = 3

  /** curation_rounds: connected-components rounds run as eager driver-side
    * actions, and the curation pipeline that leaves a cache entry behind. */
  val CurationQueries: Seq[String] = Seq("q75_neardup_components",
    "q217_curation_pipeline")

  def workload(cfg: Config): Workload = cfg.workload match {
    case "api_serving" => new ApiServing(clients = cfg.cpus)
    case "curation_rounds" =>
      BatchWorkload.ofQueries("curation_rounds", CurationQueries,
        ExpectedDigests.load(cfg.digests))
    case other => sys.error(s"unknown workload $other")
  }

  def session(cfg: Config): SparkSession = {
    val s = graft.core.GraftSession.builder("perfbench", cfg.cpus.toString)
      .config("spark.local.dir", cfg.workDir)
      // Spark's status store keeps the last 1,000 jobs, stages and SQL
      // executions with their plans; a window's job count varies, so cap
      // the retention to keep that bookkeeping out of heap_live_mb
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after full collections. A collection makes Spark's
    * ContextCleaner release blocks of unreachable RDDs and broadcasts on
    * its own thread, which frees more on the next collection; so collect
    * until the live size stops shrinking. */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var next = collect()
    var rounds = 2
    while (next < last - 0.5 && rounds < 8) { last = next; next = collect(); rounds += 1 }
    math.min(last, next)
  }

  def main(args: Array[String]): Unit = {
    val code = try run(Config.parse(args)) catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] aborted: $e")
      e.printStackTrace()
      2
    }
    System.exit(code)
  }

  private def run(cfg: Config): Int = {
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = workload(cfg)

    // Set-up, repeated: session start, input binding, warm-up. setup_s is
    // process start to the start of the window: JVM start-up, the cold
    // first set-up and the warm ones that follow.
    val bootMs = (System.currentTimeMillis() - processStart).toDouble
    var sessionMs = Vector.empty[Double]
    var setupMs = Vector.empty[Double]
    var spark: SparkSession = null
    var bound: Bound = null
    var warmFailures = Seq.empty[String]
    for (i <- 1 to Setups) {
      if (bound != null) { bound.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(cfg)
      sessionMs :+= Stats.msSince(t0)
      bound = wl.bind(spark, cfg)
      warmFailures ++= bound.warmUp(beforeWindow = i == Setups)
      setupMs :+= Stats.msSince(t0)
    }
    val setupS = (System.currentTimeMillis() - processStart) / 1000.0
    System.err.println(f"[perfbench] boot ${bootMs}%.0f ms, set-ups ${setupMs.map(m => f"$m%.0f").mkString(", ")} ms")

    val window = bound.measure(cfg.seconds, cfg.seed, None)
    val heapMb = liveHeapMb()
    val ledger = Option.when(cfg.trace)(new Ledger(spark))
    // the traced window sits between two untraced ones, so the warm-up
    // the first window gives the second is not credited to tracing
    val traced = ledger.map(l => (l.installed(bound.measure(cfg.seconds, cfg.seed, Some(l))),
      bound.measure(cfg.seconds, cfg.seed, None)))
    val checks = ledger match {
      case Some(l) => l.installed(bound.verify(window, cfg.seed, Some(l)))
      case None => bound.verify(window, cfg.seed, None)
    }

    val windows = window +: traced.toSeq.flatMap { case (t, after) => Seq(t, after) }
    val failures = warmFailures ++ windows.flatMap(_.failures) ++ checks.failures
    val attempted = windows.map(_.attempted).sum + checks.attempted
    val metrics: Map[String, Metric] = traced match {
      case None => Map(
        "setup_s" -> Metric(setupS, "s"),
        "ops_per_s" -> Metric(window.opsPerS, "1/s"),
        "latency_p50_ms" -> Metric(window.latencyP50Ms, "ms"),
        "latency_p90_ms" -> Metric(window.latencyP90Ms, "ms"),
        "heap_live_mb" -> Metric(heapMb, "MB"))
      case Some((t, after)) =>
        Spans.write(cfg.spans, bound.spans(t))
        val untracedOpsPerS = (window.opsPerS + after.opsPerS) / 2
        System.err.println(f"[perfbench] ops_per_s untraced ${window.opsPerS}%.3f, " +
          f"traced ${t.opsPerS}%.3f, untraced again ${after.opsPerS}%.3f")
        bound.layers(t) ++ Map(
          "core.session_start_ms" -> Metric(Stats.median(sessionMs), "ms"),
          "trace.ops_per_s" -> Metric(t.opsPerS, "1/s"),
          "trace.overhead_frac" -> Metric(1.0 - t.opsPerS / untracedOpsPerS, "frac"))
    }
    val ledgerFailures = if (!cfg.trace) Nil else Seq(
      Option.when(metrics("ledger.layer_overrun_max").value > 0.05)(
        "layer accounting: build + catalyst + exec exceed an operation's wall time by more than 5%"),
      Option.when(metrics("ledger.jobs_unclassified").value > 0)(
        "layer accounting: jobs not classified into core, queries or exec")).flatten
    val allFailures = failures ++ ledgerFailures
    allFailures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val failedFrac = allFailures.length.toDouble / attempted
    System.err.println(f"[perfbench] ${cfg.workload}: attempted=$attempted failed=${allFailures.length} " +
      f"failed_frac=$failedFrac%.4f ops_per_s=${window.opsPerS}%.3f")

    bound.close()
    spark.stop()
    println(ResultPrefix + Json.result(allFailures.isEmpty, attempted, allFailures.length, metrics))
    if (allFailures.isEmpty) 0 else 1
  }
}

package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import perfbench.Ledger.JobRec

/** Sequential noop-sink runs of registered queries, pass after pass, each
  * pass in a seeded order. Every pass runs every query once, so the window
  * always holds whole passes and its mix does not depend on the seed.
  *
  * Each operation is `fn(spark, dir)` (plan construction, including the
  * query's eager driver-side actions) followed by a noop write (the final
  * action), exactly as `graft.Bench` times a query. After it the cache
  * entries the query left behind are counted, then cleared, so one query's
  * leak is never charged to the next. */
final class BatchWorkload(val name: String, fns: Seq[(String, BatchWorkload.Fn)],
    expected: Map[String, Digest.Value]) extends Workload {
  import BatchWorkload._

  def bind(spark: SparkSession, cfg: Config): Bound = new Bound {
    private var opSeq = 0

    private def runOp(query: String, fn: Fn, traced: Option[Ledger]): OpRecord = {
      opSeq += 1
      try OpRecord.run(spark, query, s"$name-$opSeq", traced)(fn(spark, cfg.dataDir))(
        _.write.format("noop").mode("overwrite").save())._1
      finally spark.sharedState.cacheManager.clearCache()
    }

    def warmUp(beforeWindow: Boolean): Seq[String] = fns.flatMap { case (q, fn) =>
      def attempt(): Option[String] =
        try { runOp(q, fn, None); None }
        catch { case NonFatal(e) => Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      // one retry: a first-touch side effect may have completed in the
      // failed attempt; a second failure is reported, not skipped
      attempt().flatMap { first =>
        System.err.println(s"[perfbench] warm-up failed, retrying: $first")
        attempt().map(e => s"warm-up failed twice: $e")
      }
    }

    /** Whole passes until `seconds` have elapsed. `ops_per_s` is the
      * median over passes of the pass's queries per second, and the
      * latency percentiles are taken over the queries' median latencies,
      * so one slow pass or query run does not move either. */
    def measure(seconds: Double, seed: Long, ledger: Option[Ledger]): Window = {
      val ops = mutable.ArrayBuffer.empty[OpRecord]
      val failures = mutable.ArrayBuffer.empty[String]
      val latencies = mutable.ArrayBuffer.empty[(String, Double)]
      val passRates = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var pass = 0
      while (pass == 0 || Stats.msSince(t0) < seconds * 1000) {
        val p0 = System.nanoTime()
        new scala.util.Random(seed * 7919L + pass).shuffle(fns).foreach { case (q, fn) =>
          val s = System.nanoTime()
          try ops += runOp(q, fn, ledger)
          catch { case NonFatal(e) =>
            failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
          latencies += q -> Stats.msSince(s)
        }
        passRates += fns.length / (Stats.msSince(p0) / 1000)
        pass += 1
      }
      val perQuery = latencies.groupBy(_._1).values.map(ls => Stats.median(ls.map(_._2).toSeq)).toSeq
      Window(Stats.median(passRates.toSeq), Stats.percentile(perQuery, 0.5),
        Stats.percentile(perQuery, 0.9), latencies.length, failures.toSeq,
        BatchDetail(ops.toSeq))
    }

    def verify(window: Window, seed: Long, ledger: Option[Ledger]): Checks = {
      val failures = fns.flatMap { case (q, fn) =>
        try {
          val got = Digest.of(fn(spark, cfg.dataDir))
          expected.get(q) match {
            case Some(want) if want == got => None
            case Some(want) => Some(s"$q: digest $got, expected $want")
            case None => Some(s"$q: no expected digest recorded")
          }
        } catch { case NonFatal(e) => Some(s"$q: digest run threw $e") }
        finally spark.sharedState.cacheManager.clearCache()
      }
      Checks(fns.length, failures)
    }

    def layers(window: Window): Map[String, Metric] = {
      val ops = window.detail.asInstanceOf[BatchDetail].ops
      ops.foreach(o => System.err.println(o.ledgerLine))
      BatchWorkload.layers(ops, cfg.cpus)
    }

    def spans(window: Window): Seq[Span] =
      window.detail.asInstanceOf[BatchDetail].ops.flatMap(_.spans)

    def close(): Unit = ()
  }
}

object BatchWorkload {
  type Fn = (SparkSession, String) => DataFrame

  /** The workload over registered queries, run as `graft.Bench` runs them. */
  def ofQueries(name: String, queryNames: Seq[String],
      expected: Map[String, Digest.Value]): BatchWorkload = {
    val all = graft.SparkEntry.queries
    new BatchWorkload(name, queryNames.map(n => n -> all.getOrElse(n,
      sys.error(s"$n is not a registered query"))), expected)
  }

  final case class BatchDetail(ops: Seq[OpRecord])

  def layers(ops: Seq[OpRecord], cpus: Int): Map[String, Metric] = {
    def mean(f: OpRecord => Double) = Stats.mean(ops.map(f))
    def execSum(f: JobRec => Double) = mean(o => o.layerJobs("exec").map(f).sum)
    val execMsTotal = ops.map(_.execMs).sum
    val execRunTotal = ops.flatMap(_.layerJobs("exec")).map(_.taskRunMs.toDouble).sum
    val allJobs = ops.flatMap(_.jobs)
    Map(
      "core.schema_jobs" -> Metric(mean(_.layerJobs("core").length), "count"),
      "core.schema_ms" -> Metric(mean(_.layerJobs("core").map(_.durationMs.toDouble).sum), "ms"),
      "queries.build_ms" -> Metric(mean(_.buildMs), "ms"),
      "queries.build_self_ms" -> Metric(mean(_.buildSelfMs), "ms"),
      "queries.build_jobs" -> Metric(mean(_.layerJobs("queries").length), "count"),
      "queries.build_share" -> Metric(ops.map(_.buildMs).sum / ops.map(_.wallMs).sum, "frac"),
      "catalyst.analysis_ms" -> Metric(mean(_.catalyst.analysisMs.toDouble), "ms"),
      "catalyst.optimization_ms" -> Metric(mean(_.catalyst.optimizationMs.toDouble), "ms"),
      "catalyst.planning_ms" -> Metric(mean(_.catalyst.planningMs.toDouble), "ms"),
      "exec.ms" -> Metric(mean(_.execMs), "ms"),
      "exec.jobs" -> Metric(mean(_.layerJobs("exec").length), "count"),
      "exec.stages" -> Metric(execSum(_.stages), "count"),
      "exec.tasks" -> Metric(execSum(_.tasks), "count"),
      "exec.task_run_ms" -> Metric(execSum(_.taskRunMs.toDouble), "ms"),
      "exec.task_cpu_ms" -> Metric(execSum(_.taskCpuNs / 1e6), "ms"),
      "exec.core_util" -> Metric(if (execMsTotal > 0) execRunTotal / (execMsTotal * cpus) else 0.0, "frac"),
      "exec.sched_delay_ms" -> Metric(execSum(_.schedDelayMs.toDouble), "ms"),
      "exec.shuffle_write_bytes" -> Metric(execSum(_.shuffleWriteBytes.toDouble), "bytes"),
      "exec.shuffle_read_bytes" -> Metric(execSum(_.shuffleReadBytes.toDouble), "bytes"),
      "exec.spill_bytes" -> Metric(execSum(_.spillBytes.toDouble), "bytes"),
      "exec.gc_ms" -> Metric(execSum(_.gcMs.toDouble), "ms"),
      "exec.input_bytes" -> Metric(execSum(_.inputBytes.toDouble), "bytes"),
      "spark.jobs_per_op" -> Metric(mean(_.jobs.length), "count"),
      "spark.job_ms_p50" -> Metric(
        if (allJobs.isEmpty) 0.0 else Stats.percentile(allJobs.map(_.durationMs.toDouble), 0.5), "ms"),
      "cache.entries_left" -> Metric(mean(_.cacheEntries), "count"),
      "cache.bytes_left" -> Metric(mean(_.cacheBytes.toDouble), "bytes"),
      "ledger.unattributed_ms" -> Metric(mean(_.unattributedMs), "ms"),
      "ledger.layer_overrun_max" -> Metric(ops.map(_.overrun).max, "frac"),
      "ledger.jobs_unclassified" -> Metric(ops.map(_.unclassifiedJobs).sum, "count")
    ) ++ ApiServing.NoHttpLayer
  }
}

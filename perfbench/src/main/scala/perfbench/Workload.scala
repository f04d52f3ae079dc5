package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `bind` is the set-up of one session (inputs,
  * frames, server); the returned [[Bound]] runs measured windows and the
  * correctness checks. */
trait Workload {
  def name: String
  def bind(spark: SparkSession, cfg: Config): Bound
}

trait Bound {
  /** Runs every operation once so the window measures steady state. A
    * failed warm-up is retried once, then reported; it is never skipped
    * silently. `beforeWindow` marks the set-up the window follows, which
    * may warm up further. Returns the failures. */
  def warmUp(beforeWindow: Boolean): Seq[String]

  /** Runs operations for at least `seconds`. With a ledger, every
    * operation's jobs and query executions are booked as it completes. */
  def measure(seconds: Double, seed: Long, ledger: Option[Ledger]): Window

  /** Correctness checks made outside the measured window. With a ledger,
    * the operations the checks run are booked for [[layers]]. */
  def verify(window: Window, seed: Long, ledger: Option[Ledger]): Checks

  /** Per-layer metrics of a traced window. */
  def layers(window: Window): Map[String, Metric]

  /** The traced window's spans. */
  def spans(window: Window): Seq[Span]

  def close(): Unit
}

final case class Metric(value: Double, unit: String)

/** What a measured window did: its end-to-end figures as the workload
  * defines them, the number of operations attempted, and one message per
  * operation that threw or returned an unexpected result. `detail` is the
  * workload's own record. */
final case class Window(opsPerS: Double, latencyP50Ms: Double,
    latencyP90Ms: Double, attempted: Int, failures: Seq[String], detail: AnyRef)

final case class Checks(attempted: Int, failures: Seq[String])

/** Command-line configuration of one benchmark process. */
final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, dataDir: String, workDir: String, cpus: Int,
    digests: String, spans: String)

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"), get("cpus").toInt,
      get("digests"), get("spans"))
  }
}

package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * The settings are chosen for correctness-parity with the reference
  * (zlovtnik/rclabsAPI) and for scale-out behavior:
  *
  *   - UTC session time zone: the reference always formats/parses UTC
  *     (reference: src/etl_job_repository.cpp:486-504).
  *   - ANSI off: the reference's stringly-typed transforms fall back to
  *     the original value on parse failure
  *     (reference: src/data_transformer.cpp:165-170); permissive casts +
  *     explicit try_* functions reproduce that without runtime errors.
  *   - AQE on (coalesce + skew join): on a real cluster the optimizer
  *     re-plans shuffle partition counts and splits skewed partitions at
  *     runtime — essential at 100 TB where static partition counts are
  *     always wrong for someone.
  *   - shuffle.partitions defaults to the local core count; on a cluster
  *     this would be ~2-3x total executor cores (AQE coalesces down).
  *   - [[org.apache.spark.sql.graftbridge.HoistLiterals]] installed as a
  *     session extension: plans that differ only in primitive literal
  *     values (a REST request's time window, the folded clock) share one
  *     generated class; [[tune]] cannot add it to a built session.
  */
object GraftSession {

  val DefaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** FAIR allocation file declaring the `etl` pool with FAIR scheduling
    * INSIDE the pool — without it an on-demand pool defaults to internal
    * FIFO and concurrent jobs would still queue behind each other.
    * Materialized once to a temp file (no packaging/classpath games). */
  private lazy val fairSchedulerFile: String = {
    val f = java.nio.file.Files.createTempFile("graft-fairscheduler", ".xml")
    java.nio.file.Files.writeString(f,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="etl">
        |    <schedulingMode>FAIR</schedulingMode>
        |    <weight>1</weight>
        |    <minShare>0</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin)
    f.toFile.deleteOnExit()
    f.toString
  }

  /** Per-JVM temp warehouse so `saveAsTable` (bucketed-layout specs and
    * demos) never writes `spark-warehouse/` into the process CWD. The
    * engine's durable outputs are always explicit parquet paths; the
    * catalog is scratch space, so a temp dir is the right default. */
  private lazy val tempWarehouse: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-warehouse")
    d.toFile.deleteOnExit()
    d.toString
  }

  def builder(appName: String = "graft", cpus: String = DefaultCpus): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.warehouse.dir", tempWarehouse)
      // FAIR task scheduling so concurrent jobs (JobRunner.runConcurrent's
      // spark.scheduler.pool=etl) time-share executors instead of queuing
      // FIFO behind each other; the allocation file makes the etl pool
      // FAIR internally too (on-demand pools default to FIFO inside).
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", fairSchedulerFile)
      // events.parquet carries TIMESTAMP(NANOS) which Spark's TimestampType
      // (micros) cannot hold; read as Long nanos and convert in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        classOf[org.apache.spark.sql.graftbridge.HoistLiterals].getName)

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply the semantics-critical settings to an externally-built session
    * (e.g. the driver's). Runtime confs only — safe post-construction. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }
}

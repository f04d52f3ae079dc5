package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.model.{EtlJob, JobStatus, JobType, TransformationRule}
import graft.rules.RuleCompiler

/** The E/T/L job orchestrator: source/sink registry, status transitions,
  * progress checkpoints, per-run metrics — the reference's
  * ETLJobManager/executeJobWithMonitoring re-expressed as one DataFrame
  * chain per job (reference: src/etl_job_manager.cpp:39-67, 275-300,
  * 540-654; progress checkpoints 0/10/50/80/100 at :575-589).
  *
  * Concurrency contract: the reference runs ONE worker thread but
  * configures max_concurrent_jobs=5 (SURVEY §7.4 risk 6) — we take the
  * config as the contract: jobs are independent Spark actions and the
  * scheduler pool provides the concurrency cap.
  */
object JobRunner {

  /** Source/sink config: format + path (+ options). The registry covers
    * the DataFrameReader formats the reference's connectors map to. */
  final case class IoConfig(format: String, path: String,
      options: Map[String, String] = Map.empty)

  final case class JobSpec(
      jobId: String,
      jobType: String,
      source: IoConfig,
      target: IoConfig,
      rules: Seq[TransformationRule] = Seq.empty)

  final case class JobResult(
      job: EtlJob,
      progressLog: Seq[(Int, String)]) // (percent, step) checkpoints

  def read(spark: SparkSession, io: IoConfig): DataFrame = io.format match {
    case "parquet" => spark.read.options(io.options).parquet(io.path)
    case "csv"     => spark.read.options(io.options).option("header", "true").csv(io.path)
    case "json"    => spark.read.options(io.options).json(io.path)
    case "orc"     => spark.read.options(io.options).orc(io.path)
    case "jdbc"    => spark.read.options(io.options).format("jdbc").load()
    case other     => throw new IllegalArgumentException(s"unknown source format: $other")
  }

  def write(df: DataFrame, io: IoConfig): Unit = io.format match {
    case "parquet" => df.write.options(io.options).mode("overwrite").parquet(io.path)
    case "csv"     => df.write.options(io.options).option("header", "true")
      .mode("overwrite").csv(io.path)
    case "json"    => df.write.options(io.options).mode("overwrite").json(io.path)
    case "orc"     => df.write.options(io.options).mode("overwrite").orc(io.path)
    case "jdbc"    => df.write.options(io.options).format("jdbc").mode("append").save()
    case other     => throw new IllegalArgumentException(s"unknown target format: $other")
  }

  /** Fault injection mirroring the reference's simulated constraint
    * violation for jobIds containing "fail"
    * (reference: src/etl_job_manager.cpp:476-480). */
  private def injectFaults(spec: JobSpec): Unit =
    if (spec.jobId.contains("fail"))
      throw new RuntimeException("Simulated constraint violation")

  /** Run one job: extract → transform (compiled rules) → load, with the
    * reference's lifecycle and progress checkpoints. Metrics come from
    * `observe()` on the output — one pass, no recount. */
  def run(spark: SparkSession, spec: JobSpec,
      now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()))
      : JobResult = {
    val createdAt = now()
    val progress = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    def checkpoint(p: Int, step: String): Unit = progress += ((p, step))

    var job = EtlJob(spec.jobId, spec.jobType, JobStatus.Pending,
      spec.source.path, spec.target.path, createdAt)
    val startedAt = now()
    job = job.copy(status = JobStatus.Running, startedAt = Some(startedAt))
    checkpoint(0, "started")

    try {
      val source = read(spark, spec.source)
      checkpoint(10, "extracted")

      val observedName = s"job_metrics_${spec.jobId}"
      val observed = RuleCompiler(source, spec.rules)
        .observe(observedName, count(lit(1)).as("n_rows"))
      checkpoint(50, "transformed")

      injectFaults(spec)
      checkpoint(80, "loading")
      // observe() metrics surface on the WRITE's QueryExecution via the
      // listener bus — one pass over the data, no recount
      @volatile var observedCount = -1L
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          qe.observedMetrics.get(observedName)
            .foreach(r => observedCount = r.getLong(0))
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val metrics = try {
        write(observed, spec.target)
        checkpoint(100, "loaded")
        val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
        while (observedCount < 0 && System.nanoTime < deadline) Thread.sleep(20)
        math.max(observedCount, 0L)
      } finally spark.listenerManager.unregister(listener)
      val completedAt = now()
      val execMs = completedAt.getTime - startedAt.getTime
      JobResult(job.copy(
        status = JobStatus.Completed,
        completedAt = Some(completedAt),
        recordsProcessed = metrics,
        recordsSuccessful = metrics,
        executionTimeMs = execMs,
        processingRate = if (execMs > 0) metrics.toDouble / (execMs / 1000.0) else 0.0,
        lastUpdateTime = Some(completedAt)), progress.toSeq)
    } catch {
      case e: Exception =>
        val completedAt = now()
        JobResult(job.copy(
          status = JobStatus.Failed,
          completedAt = Some(completedAt),
          errorMessage = Some(e.getMessage),
          executionTimeMs = completedAt.getTime - startedAt.getTime,
          lastUpdateTime = Some(completedAt)), progress.toSeq)
    }
  }

  /** The reference's simulated extract source: a deterministic generator
    * (100 records, 512 B payload, 95% success flag
    * — reference: src/etl_job_manager.cpp:371-407). */
  def simulatedExtract(spark: SparkSession, nRecords: Int = 100): DataFrame =
    spark.range(nRecords).select(
      col("id"),
      md5(col("id").cast("string")).as("payload_head"),
      lit(512).as("payload_bytes"),
      (col("id") % 20 =!= 19).as("success")) // 95% success, batch-of-20 shape

  /** Concurrent job execution with the reference's admission cap
    * (max_concurrent_jobs=5 — config/config.json:20; we take the config
    * over the single worker thread per SURVEY §7.4 risk 6). Jobs run as
    * independent Spark actions under a FAIR scheduler pool; the semaphore
    * is the admission control, Spark's task scheduler does the rest.
    * One failed job never affects the others (failure isolation spec'd). */
  def runConcurrent(spark: SparkSession, specs: Seq[JobSpec],
      maxConcurrent: Int = 5): Seq[JobResult] = {
    val sem = new java.util.concurrent.Semaphore(maxConcurrent)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(specs.size, math.max(maxConcurrent, 1)))
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futures = specs.map { spec =>
        scala.concurrent.Future {
          sem.acquire()
          try {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "etl")
            run(spark, spec)
          } finally sem.release()
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration(30, "min"))
    } finally pool.shutdown()
  }

  /** Control-plane upsert: merge a finished job row into the jobs table
    * (S3's UPDATE-by-PK as a dataframe union-dedup — at scale this is a
    * Delta/Iceberg MERGE; plain parquet gets last-writer-wins). For a
    * jobs table that outgrows a single rewrite, use
    * [[upsertJobBucketed]]. */
  def upsertJob(jobs: DataFrame, result: EtlJob)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val updated = Seq(result).toDF()
    jobs.filter(col("jobId") =!= result.jobId).unionByName(updated, allowMissingColumns = true)
  }

  /** Stable storage bucket for a jobId (String.hashCode is specified by
    * the JLS, so the assignment survives restarts and JVMs). */
  def jobBucket(jobId: String, numBuckets: Int): Int =
    math.floorMod(jobId.hashCode, numBuckets)

  /** Scale-correct upsert on PLAIN parquet (no Delta/Iceberg in this
    * environment): the jobs table is laid out partitioned by a stable
    * hash bucket of jobId; an upsert reads ONLY the target bucket
    * (partition-pruned scan), merges the row, and dynamic partition
    * overwrite rewrites ONLY that bucket's directory. Work per upsert is
    * O(table/numBuckets) instead of O(table) — the plain-parquet analog
    * of a MERGE, trading write amplification for point-update cost the
    * same way a SQL-table compaction strategy would.
    *
    * Concurrency/durability contract (plain parquet has no transaction
    * log): SINGLE WRITER per bucket. Concurrent upserts to the same
    * bucket are last-writer-wins; a crash mid-overwrite can leave the
    * bucket directory partially rewritten (dynamic partition overwrite is
    * not atomic on plain files); and the merged rows are pinned by eager
    * `localCheckpoint` — an executor loss between checkpoint and write
    * fails the job (rerun the upsert) rather than corrupting data. A real
    * deployment that needs concurrent writers or crash atomicity puts
    * this table in a format with a commit protocol (Delta/Iceberg/Hudi)
    * and keeps the identical bucket layout. */
  def upsertJobBucketed(warehouse: String, result: EtlJob,
      numBuckets: Int = 64)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(overwriteKey)
    spark.conf.set(overwriteKey, "dynamic")
    try {
      val b = jobBucket(result.jobId, numBuckets)
      val row = Seq(result).toDF().withColumn("bucket", lit(b))
      // filesystem-agnostic existence check (local, HDFS, S3A, ...)
      val path = new org.apache.hadoop.fs.Path(warehouse)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val merged =
        if (fs.exists(path)) {
          // materialize the (single-bucket) rows before overwriting the
          // path they were read from; only this bucket is ever held
          val bucketRows = Materialize.cut(spark.read.parquet(warehouse)
            .filter(col("bucket") === b) // partition-pruned: one directory read
            .filter(col("jobId") =!= result.jobId))
          bucketRows.unionByName(row, allowMissingColumns = true)
        } else row
      merged.write.mode("overwrite").partitionBy("bucket").parquet(warehouse)
    } finally prevMode match {
      case Some(m) => spark.conf.set(overwriteKey, m)
      case None    => spark.conf.unset(overwriteKey)
    }
  }

  /** Read the bucketed jobs table (point lookups prune to one bucket). */
  def readJobsBucketed(warehouse: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(warehouse)

  /** Point lookup against the bucketed layout: the bucket predicate is
    * derived from the id, so the scan touches one partition directory. */
  def lookupJobBucketed(warehouse: String, jobId: String, numBuckets: Int = 64)(
      implicit spark: SparkSession): DataFrame =
    readJobsBucketed(warehouse)
      .filter(col("bucket") === jobBucket(jobId, numBuckets))
      .filter(col("jobId") === jobId)
}

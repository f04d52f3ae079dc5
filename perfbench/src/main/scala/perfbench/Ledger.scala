package perfbench

import scala.collection.mutable

import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation accounting from Spark's own listeners, registered by the
  * benchmark (the engine is not instrumented).
  *
  * The harness tags every job it causes through two local properties:
  * `perfbench.op` (operation id) and `perfbench.phase` (`build` while it is
  * inside the query's plan construction, `action` during the final action).
  * Jobs whose stages were created from a parquet read in `graft.core.Tables`
  * are schema-resolution jobs and belong to the `core` layer wherever they
  * run. Callbacks arrive on the listener-bus thread; readers call [[drain]]
  * first, so every event of an operation has been delivered when it is
  * booked.
  */
final class Ledger(spark: SparkSession) {
  import Ledger._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, JobRec]
  private val queries = mutable.ArrayBuffer.empty[QeRec]
  /** Per SQL execution: whether it was started from the HTTP server's
    * handlers. Jobs that an execution submits from Spark's own thread
    * pools (adaptive query stages) have no handler frame in their call
    * site, but carry the execution's id. */
  private val executionApi = mutable.HashMap.empty[Long, Boolean]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val core = e.stageInfos.exists(_.details.contains(SchemaCallSite))
      val api = e.stageInfos.exists(_.details.contains(ApiCallSite)) ||
        prop(SQLExecution.EXECUTION_ID_KEY).toLongOption.flatMap(executionApi.get).contains(true)
      val site = e.stageInfos.lastOption.map(_.details.linesIterator.take(3).mkString(" < ")).getOrElse("")
      val rec = new JobRec(e.jobId, prop(OpProperty), prop(PhaseProperty), core, api, site, e.time)
      jobs(e.jobId) = rec
      e.stageInfos.foreach(s => if (!stageOwner.contains(s.stageId)) stageOwner(s.stageId) = rec)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => jobs.synchronized {
        executionApi(s.executionId) = s.details.contains(ApiCallSite)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      stageOwner.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
        val info = e.taskInfo
        j.tasks += 1
        j.taskRunMs += m.executorRunTime
        j.taskCpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.synchronized {
        val phases = qe.tracker.phases
        queries += QeRec(funcName, Seq("analysis", "optimization", "planning")
          .flatMap(p => phases.get(p).map(s => (p, s.startTimeMs, s.endTimeMs))))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  def drain(): Unit = PerfbenchAccess.drain(spark.sparkContext)

  /** Runs `body` with the listeners registered; events from before it are
    * discarded. */
  def installed[A](body: => A): A = {
    install()
    take()
    try body finally uninstall()
  }

  /** Every job and query event delivered since the last take, oldest first. */
  def take(): (Seq[JobRec], Seq[QeRec]) = {
    drain()
    val js = jobs.synchronized {
      val all = jobs.values.toVector
      jobs.clear()
      // a stage can outlive its job's record only as a skipped parent of a
      // later job; ownership of finished jobs' stages is no longer needed
      stageOwner.clear()
      all
    }
    val qs = queries.synchronized { val all = queries.toVector; queries.clear(); all }
    (js, qs)
  }
}

object Ledger {
  val OpProperty = "perfbench.op"
  val PhaseProperty = "perfbench.phase"
  val Build = "build"
  val Action = "action"
  /** Long-form call site of a stage created by a table loader. */
  val SchemaCallSite = "graft.core.Tables"
  /** Long-form call site of a job started by the HTTP server's handlers. */
  val ApiCallSite = "graft.api."

  final class JobRec(val id: Int, val op: String, val phase: String,
      val core: Boolean, val api: Boolean, val site: String, val startMs: Long) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    def durationMs: Long = endMs - startMs
    /** `core` for schema resolution, else the harness phase it ran in:
      * `queries` (plan construction) or `exec` (final action). A job no
      * harness operation tagged (the HTTP server's threads run untagged)
      * is `unclassified` here; see [[ApiServing.requestLayer]]. */
    def layer: String =
      if (core) "core"
      else if (phase == Build) "queries"
      else if (phase == Action) "exec"
      else "unclassified"
  }

  /** One query execution's planning phases as (phase, start, end). */
  final case class QeRec(funcName: String, phases: Seq[(String, Long, Long)]) {
    private def ms(p: String) = phases.collectFirst { case (`p`, s, e) => e - s }.getOrElse(0L)
    def analysisMs: Long = ms("analysis")
    def optimizationMs: Long = ms("optimization")
    def planningMs: Long = ms("planning")
    def totalMs: Long = phases.map { case (_, s, e) => e - s }.sum
  }

  /** Length of the union of the jobs' [start, end] intervals. */
  def unionMs(js: Seq[JobRec]): Long = {
    val sorted = js.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, PerfbenchAccess, SparkSession}

import perfbench.Ledger.{JobRec, QeRec}

/** One booked operation: plan construction (`build`) followed by one final
  * action. `jobs`/`qes` are empty unless traced; the `*Ms` epoch times
  * bound its build and action spans. */
final case class OpRecord(query: String, opId: String, wallMs: Double,
    buildMs: Double, cacheEntries: Int, cacheBytes: Long,
    jobs: Seq[JobRec], qes: Seq[QeRec], startMs: Long, buildEndMs: Long, endMs: Long) {
  def layerJobs(layer: String): Seq[JobRec] =
    jobs.filter(j => j.op == opId && j.layer == layer)
  def unclassifiedJobs: Int = jobs.length - Seq("core", "queries", "exec")
    .map(layerJobs(_).length).sum
  /** The final action's planning phases: its query execution is the last
    * one the operation completed. */
  def catalyst: QeRec = qes.lastOption.getOrElse(QeRec("none", Nil))
  /** The part of [[catalyst]] spent in the action. A frame that is
    * collected directly was analysed while it was built, which the build
    * time already holds. */
  def catalystActionMs: Double =
    catalyst.phases.collect { case (_, s, e) if s >= buildEndMs => (e - s).toDouble }.sum
  def execMs: Double = Ledger.unionMs(layerJobs("exec")).toDouble
  /** Plan construction not covered by any of its jobs: driver-side work
    * and the gaps between the eager actions' jobs. */
  def buildSelfMs: Double =
    buildMs - Ledger.unionMs(jobs.filter(j => j.op == opId && j.phase == Ledger.Build))
  def unattributedMs: Double = wallMs - buildMs - catalystActionMs - execMs
  /** How far the independently measured layers overrun the wall time, as
    * a share of it; the accounting check requires at most 5%. */
  def overrun: Double = -unattributedMs / wallMs
  def spans: Seq[Span] = {
    val root = s"op $query"
    Seq(Span(root, startMs, endMs, "", opId),
      Span("queries.build", startMs, buildEndMs, root, opId),
      Span("action", buildEndMs, endMs, root, opId)) ++
      catalyst.phases.map { case (p, s, e) =>
        Span(s"catalyst.$p", s, e, if (s >= buildEndMs) "action" else "queries.build", opId)
      } ++
      jobs.filter(_.op == opId).map(j => Span(s"job ${j.id} ${j.layer}",
        j.startMs, j.endMs, if (j.phase == Ledger.Build) "queries.build" else "action", opId))
  }

  def ledgerLine: String =
    f"[ledger] $query%-32s wall=$wallMs%8.1f build=$buildMs%8.1f " +
      f"catalyst=$catalystActionMs%5.0f exec=$execMs%8.1f " +
      f"unattributed=$unattributedMs%7.1f jobs=${jobs.length}%3d " +
      f"(core ${layerJobs("core").length}, queries ${layerJobs("queries").length}, " +
      f"exec ${layerJobs("exec").length}) cache_entries_left=$cacheEntries " +
      f"cache_bytes_left=$cacheBytes"
}

object OpRecord {
  /** Runs one operation on the calling thread: `build` with its jobs tagged
    * [[Ledger.Build]], then `action` on the frame it returns with its jobs
    * tagged [[Ledger.Action]]. The cache entries and persisted bytes alive
    * after the action are recorded; with a ledger, the operation's jobs
    * and query executions are taken as it completes. */
  def run[A](spark: SparkSession, query: String, opId: String, ledger: Option[Ledger])
      (build: => DataFrame)(action: DataFrame => A): (OpRecord, A) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Ledger.OpProperty, opId)
    sc.setLocalProperty(Ledger.PhaseProperty, Ledger.Build)
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    try {
      val df = build
      val buildMs = Stats.msSince(t0)
      val buildEndMs = System.currentTimeMillis()
      sc.setLocalProperty(Ledger.PhaseProperty, Ledger.Action)
      val out = action(df)
      val wallMs = Stats.msSince(t0)
      val endMs = System.currentTimeMillis()
      val entries = PerfbenchAccess.cacheEntries(spark)
      val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val (jobs, qes) = ledger.map(_.take()).getOrElse((Nil, Nil))
      (OpRecord(query, opId, wallMs, buildMs, entries, bytes, jobs, qes,
        startMs, buildEndMs, endMs), out)
    } finally {
      sc.setLocalProperty(Ledger.OpProperty, null)
      sc.setLocalProperty(Ledger.PhaseProperty, null)
    }
  }
}

package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import perfbench.BatchWorkload.BatchDetail

/** Pins the ledger's accounting on operations whose jobs, stages and tasks
  * are known exactly, and the layer checks every traced run applies. */
class LedgerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.GraftSession.builder("perfbench-spec", "2")
    .getOrCreate()
  private lazy val dataDir: String = {
    val d = Files.createTempDirectory("perfbench-spec").toString
    spark.range(0, 100).selectExpr("id AS o_orderkey").write.parquet(s"$d/orders.parquet")
    d
  }

  override def afterAll(): Unit = spark.stop()

  private def cfg = Config("spec", 1L, 0.0, trace = true, dataDir, dataDir, 2, "", "")

  /** Warms the operation up untraced, then books one traced pass of it. */
  private def tracedOp(fn: BatchWorkload.Fn): OpRecord = {
    val bound = new BatchWorkload("spec", Seq("op" -> fn), Map.empty).bind(spark, cfg)
    assert(bound.warmUp(beforeWindow = true).isEmpty)
    val ledger = new Ledger(spark)
    ledger.install()
    ledger.take()
    try {
      val w = bound.measure(0.0, 1L, Some(ledger))
      assert(w.failures.isEmpty)
      val ops = w.detail.asInstanceOf[BatchDetail].ops
      assert(ops.length == 1)
      ops.head
    } finally ledger.uninstall()
  }

  test("a two-job operation books exactly its jobs, stages and tasks") {
    // plan construction collects a 3-partition range (1 job, 1 stage,
    // 3 tasks); the final noop write runs a 4-partition range (1 job,
    // 1 stage, 4 tasks); no shuffle, so no extra adaptive-execution jobs
    val op = tracedOp { (s, _) =>
      s.range(0, 1000, 1, 3).collect()
      s.range(0, 1000, 1, 4).toDF()
    }
    assert(op.jobs.length == 2)
    assert(op.layerJobs("queries").map(j => (j.stages, j.tasks)) == Seq((1, 3)))
    assert(op.layerJobs("exec").map(j => (j.stages, j.tasks)) == Seq((1, 4)))
    assert(op.layerJobs("core").isEmpty)
    assert(op.unclassifiedJobs == 0)
    assert(op.overrun <= 0.05, op.ledgerLine)
  }

  test("schema resolution in a table loader is booked to core, and no job is dropped") {
    val op = tracedOp((s, dir) => graft.core.Tables(s, dir).orders.filter("o_orderkey % 2 = 0"))
    val byLayer = Seq("core", "queries", "exec").map(l => l -> op.layerJobs(l).length).toMap
    assert(byLayer("core") >= 1, op.ledgerLine)
    assert(byLayer("exec") >= 1, op.ledgerLine)
    assert(byLayer.values.sum == op.jobs.length)
    assert(op.unclassifiedJobs == 0)
  }

  test("build + catalyst + exec + unattributed is the wall time, with no layer overrun") {
    val op = tracedOp { (s, _) =>
      s.range(0, 20000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      s.range(0, 20000, 1, 4).selectExpr("id % 11 AS k", "id").groupBy("k").sum("id")
    }
    val sum = op.buildMs + op.catalystActionMs + op.execMs + op.unattributedMs
    assert(math.abs(sum - op.wallMs) < 1e-6)
    assert(op.overrun <= 0.05, op.ledgerLine)
    assert(op.unclassifiedJobs == 0)
    val layers = BatchWorkload.layers(Seq(op), cpus = 2)
    assert(layers("ledger.jobs_unclassified").value == 0.0)
    assert(layers("spark.jobs_per_op").value == op.jobs.length.toDouble)
  }

  test("an untagged job is a request's only if the server started it while a request was in flight") {
    def job(id: Int, startMs: Long, api: Boolean, core: Boolean = false) =
      new Ledger.JobRec(id, "", "", core, api, "", startMs)
    val req = ApiServing.Req("job_status", "/api/jobs/job_1/status", None, 200)
    // in flight from 950 to 1000 ms, with 1 ms of slack either side
    val layer = ApiServing.requestLayer(Seq(ApiServing.Resp(req, 200, "", 50.0, 1000L)))
    assert(layer(job(1, 960L, api = true)) == "exec")
    assert(layer(job(2, 1500L, api = true)) == "unclassified")
    assert(layer(job(3, 960L, api = false)) == "unclassified")
    assert(layer(job(4, 1500L, api = false, core = true)) == "core")
  }

  test("a result digest ignores row order and partitioning but not values") {
    val df = spark.range(0, 500).selectExpr("id", "CAST(id AS STRING) AS s",
      "map('k', id) AS m", "array(id, id + 1) AS a")
    val d = Digest.of(df)
    assert(Digest.of(df.repartition(3).orderBy(org.apache.spark.sql.functions.desc("id"))) == d)
    assert(Digest.of(df.selectExpr("id + 1 AS id", "s", "m", "a")) != d)
    assert(d.rows == 500)
  }

  test("percentiles are nearest-rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.median(xs) == 5.5)
  }
}

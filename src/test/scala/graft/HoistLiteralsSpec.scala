package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec,
  LocalTableScanExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.HoistedLiteral
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.QueryApi
import graft.model.{EtlJob, LogMessage}
import graft.operators.JobQueries

/** [[org.apache.spark.sql.graftbridge.HoistLiterals]]: filters and
  * projections over a parquet frame, whose primitive literals the rule
  * hoists out of the generated code, return what the same expressions
  * return over a local frame, which the optimizer evaluates without
  * generated code (parity); pushed filters still reach the scan; and REST
  * queries that differ only in their values compile no new class. */
class HoistLiteralsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import HoistLiteralsSpec.Typed

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("hoist-literals-spec", "2").getOrCreate()

  private val root = java.nio.file.Files.createTempDirectory("hoist-literals-spec")

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
      ()
    }
    rm(root.toFile)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The parquet frame and the local frame over the same rows. */
  private def frames[A <: Product : scala.reflect.runtime.universe.TypeTag](
      name: String, rows: Seq[A]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val local = rows.toDF()
    val path = root.resolve(name).toString
    local.write.parquet(path)
    (spark.read.parquet(path), local)
  }

  private val Doubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.5, -2.25)
  private val Floats = Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
    Float.NegativeInfinity, 3.5f)
  private val Ints = Seq(Int.MinValue, Int.MaxValue, 0, -1, 7)
  private val Longs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L << 40)
  private val Dates = Seq("1900-01-01", "1969-12-31", "1970-01-01", "2024-02-29")
    .map(Date.valueOf)
  private val Stamps = Seq("1901-12-13 20:45:52", "1969-12-31 23:59:59.999999",
    "1970-01-01 00:00:00", "2038-01-19 03:14:08").map(ts)
  private val NtzStamps = Seq(LocalDateTime.of(1950, 6, 1, 12, 0),
    LocalDateTime.of(1969, 12, 31, 23, 59, 59), LocalDateTime.of(2001, 9, 9, 1, 46, 40))

  private lazy val (typed, typedLocal) = frames("typed", (0 until 60).map { k =>
    Typed(k % 2 == 0, (k % 5 - 2).toByte, (k % 7 - 3).toShort, Ints(k % Ints.size),
      Longs(k % Longs.size), Floats(k % Floats.size), Doubles(k % Doubles.size),
      Dates(k % Dates.size), Stamps(k % Stamps.size), NtzStamps(k % NtzStamps.size), k)
  })

  private def rendered(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def planExprs(plan: SparkPlan): Seq[Expression] = plan.collect {
    case f: FilterExec => Seq(f.condition)
    case p: ProjectExec => p.projectList
  }.flatten.flatMap(_.collect { case e => e })

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("hoisted literals of every primitive type return what interpreted evaluation returns") {
    val filters: Seq[Column] = Seq(
      col("d") === lit(Double.NaN),
      col("d") === lit(-0.0),
      col("d") > lit(Double.NegativeInfinity) && col("d") < lit(Double.PositiveInfinity),
      col("f") =!= lit(Float.NaN) && col("f") >= lit(-0.0f),
      col("f") === lit(Float.PositiveInfinity) || col("f") === lit(Float.NegativeInfinity),
      col("i") === lit(Int.MinValue) || col("i") === lit(Int.MaxValue),
      col("l") >= lit(Long.MaxValue) || col("l") <= lit(Long.MinValue),
      col("dt") < lit(Date.valueOf("1970-01-01")),
      col("ts") <= lit(ts("1969-12-31 23:59:59.999999")),
      col("ntz") > lit(LocalDateTime.of(1969, 12, 31, 23, 59, 58)),
      col("bo") === lit(false) && col("by") > lit(0.toByte) || col("sh") < lit((-2).toShort))
    val projections: Seq[Column] = Seq(
      col("k"),
      col("i") + lit(1), col("i") - lit(Int.MinValue), col("l") + lit(Long.MaxValue),
      col("l") * lit(-1L), col("d") * lit(-0.0), col("d") + lit(Double.PositiveInfinity),
      col("d") / lit(Double.NaN), col("f") * lit(-0.0f) + lit(Float.NegativeInfinity),
      col("by") + lit(127.toByte), col("sh") * lit((-32768).toShort),
      when(col("d").isNaN, lit(Double.NegativeInfinity))
        .when(col("i") > lit(0), lit(Long.MinValue)).otherwise(lit(-0.0)),
      when(col("bo"), lit(Date.valueOf("1900-01-01"))).otherwise(col("dt")),
      when(col("by") === lit(1.toByte), lit(ts("1901-12-13 20:45:52")))
        .when(col("ts") < lit(ts("1970-01-01 00:00:00")), col("ts"))
        .otherwise(lit(ts("1969-07-20 20:17:40"))),
      col("ntz") === lit(LocalDateTime.of(1950, 6, 1, 12, 0)),
      coalesce(when(col("bo"), col("ntz")), lit(LocalDateTime.of(1960, 1, 1, 0, 0))),
      date_add(col("dt"), -1), col("ts") > lit(ts("1969-12-31 23:59:59.999999")),
      lit(true) && col("bo") || lit(false))
    val (got, want) = filters.map { c =>
      (rendered(typed.filter(c).select(projections: _*)),
        rendered(typedLocal.filter(c).select(projections: _*)))
    }.unzip
    assert(got == want)
    // every filter selects something and leaves something out
    assert(want.forall(rows => rows.nonEmpty && rows.size < 60))
    val hoisted = planExprs(executed(typed.filter(filters.last).select(projections: _*)))
    assert(hoisted.exists(_.isInstanceOf[HoistedLiteral]))
    assert(!hoisted.exists {
      case Literal(v, BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | DateType | TimestampType | TimestampNTZType) => v != null
      case _ => false
    })
    // the local frame is evaluated by the optimizer, without generated code
    assert(executed(typedLocal.filter(filters.last).select(projections: _*))
      .isInstanceOf[LocalTableScanExec])
  }

  test("null, string and decimal literals stay literals") {
    val df = typed.filter(col("k") > lit(3))
      .select(lit(null).cast("int").as("n"), concat(lit("k="), col("k")).as("s"),
        (col("k") * lit(BigDecimal("1.25"))).as("m"), (col("k") + lit(2)).as("j"))
    val exprs = planExprs(executed(df))
    val kept = exprs.collect { case l: Literal => l.dataType }
    assert(kept.contains(StringType) && kept.exists(_.isInstanceOf[DecimalType]))
    assert(exprs.exists { case Literal(null, IntegerType) => true; case _ => false })
    // a hoisted literal keeps its text, in the plan too
    assert(exprs.collect { case h: HoistedLiteral => h.toString }.sorted == Seq("2", "3"))
    assert("""\(k#\d+ > 3\)""".r.findFirstIn(df.queryExecution.executedPlan.toString).nonEmpty)
    assert(rendered(df) == rendered(typedLocal.filter(col("k") > lit(3))
      .select(lit(null).cast("int"), concat(lit("k="), col("k")),
        col("k") * lit(BigDecimal("1.25")), col("k") + lit(2))))
  }

  private lazy val (jobs, jobsLocal) = frames("jobs", (0 until 400).map { i =>
    val status = Seq("RUNNING", "COMPLETED", "FAILED", "PENDING")(i % 4)
    EtlJob(f"job_$i%04d", Seq("FULL_ETL", "DATA_SYNC")(i % 2), status, "s", "t",
      new Timestamp((i * 97L % 400 - 200) * 86400000L * 30),
      // RUNNING jobs have no start time, so no answer below depends on the
      // clock; the clock's value itself is checked in the next test
      Option.when(status != "RUNNING")(ts("1980-01-01 00:00:00")),
      Option.when(status == "COMPLETED")(ts("1980-01-01 00:10:00")),
      recordsProcessed = i * 10L)
  })

  private lazy val (logs, logsLocal) = frames("logs", (0 until 400).map { i =>
    LogMessage(s"job_$i", graft.model.LogLevel.Ordered(i % 5), s"c${i % 3}", s"m$i",
      new Timestamp(ts("2024-01-01 00:00:00").getTime + i * 3600000L * 7))
  })

  test("the REST pushed filters still reach the scan") {
    // the scan's metadata, which the plan text abbreviates
    def pushed(df: DataFrame): String = {
      val plan = executed(df)
      assert(planExprs(plan).exists(_.isInstanceOf[HoistedLiteral]))
      plan.collect { case s: FileSourceScanExec => s.metadata("PushedFilters") }.mkString("\n")
    }
    val m = pushed(QueryApi.monitorJobs(jobs,
      "from=1970-01-01T00:00:00&to=1995-06-30T23:59:59&limit=50").toOption.get)
    assert(m.contains("GreaterThanOrEqual(createdAt,1970-01-01 00:00:00.0)") &&
      m.contains("LessThanOrEqual(createdAt,1995-06-30 23:59:59.0)"), m)
    val l = pushed(QueryApi.logSearch(logs,
      "startTime=2024-01-03T00:00:00&endTime=2024-01-05T23:59:59&minLevel=WARN").toOption.get)
    assert(l.contains("GreaterThanOrEqual(timestamp,2024-01-03 00:00:00.0)") &&
      l.contains("LessThanOrEqual(timestamp,2024-01-05 23:59:59.0)"), l)
  }

  test("a hoisted clock gives each request its own value") {
    val running = Seq(EtlJob("r1", "FULL_ETL", "RUNNING", "s", "t", ts("1965-01-01 00:00:00"),
      Some(ts("1965-01-01 00:00:00")), recordsProcessed = 1000L))
    val (onDisk, local) = frames("running", running)
    Seq("1965-01-01 00:00:01", "1969-12-31 23:59:59", "2026-10-20 12:00:00").foreach { now =>
      def body(df: DataFrame) = JobQueries.monitorJobsJson(df, JobQueries.JobListParams(),
        lit(ts(now))).collect().map(_.getString(0)).toSeq
      assert(body(onDisk) == body(local), now)
      assert(body(onDisk).head.contains(
        s""""executionTimeMs":${ts(now).getTime - ts("1965-01-01 00:00:00").getTime}"""))
    }
  }

  test("REST queries with new values and a new clock compile no class") {
    def monitor(df: DataFrame, y: Int) = QueryApi.monitorJobs(df,
      s"from=$y-01-01T00:00:00&to=${y + 3}-06-30T23:59:59&status=COMPLETED&limit=50")
      .toOption.get.collect().map(_.getString(0)).mkString("[", ",", "]")
    def search(df: DataFrame, i: Int) = QueryApi.logSearch(df,
      f"minLevel=${graft.model.LogLevel.Ordered(i % 5)}&startTime=2024-01-${1 + i}%02dT00:00:00" +
        f"&endTime=2024-02-${1 + i}%02dT23:59:59&maxResults=20")
      .toOption.get.toJSON.collect().mkString("[", ",", "]")
    def compiles[A](body: => A): (Long, A) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val a = body
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, a)
    }
    // one warm call per shape: each minLevel folds the level CASE chain
    // into its own predicate before the rule runs
    monitor(jobs, 1960)
    graft.model.LogLevel.Ordered.indices.foreach(i => search(logs, 20 + i))
    val years = (0 until 10).map(1961 + 2 * _)
    val (n, (gotJobs, gotLogs)) = compiles {
      (years.map(monitor(jobs, _)), (0 until 10).map(search(logs, _)))
    }
    assert(n == 0, s"$n classes compiled for 20 requests of warm shapes")
    assert(gotJobs == years.map(monitor(jobsLocal, _)))
    assert(gotLogs == (0 until 10).map(search(logsLocal, _)))
    assert(gotJobs.count(_ != "[]") > 5 && gotLogs.count(_ != "[]") > 5)
  }
}

object HoistLiteralsSpec {
  final case class Typed(bo: Boolean, by: Byte, sh: Short, i: Int, l: Long, f: Float,
      d: Double, dt: Date, ts: Timestamp, ntz: LocalDateTime, k: Int)
}

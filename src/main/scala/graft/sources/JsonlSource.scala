package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Materialize

/** JSON-lines corpus ingestion with corrupt-record quarantine — the
  * standard interchange format of LLM training corpora, read the way a
  * 100 TB pipeline must: PERMISSIVE parse (one bad line must not kill a
  * multi-hour job the way FAILFAST would), with every unparseable line
  * CAPTURED, counted, and carried to a quarantine side-channel instead
  * of silently nulled.
  *
  * Spark's JSON reader holds the raw text of a failed line in the
  * configured corrupt-record column; [[read]] splits on it. Good rows
  * drop the column; quarantined rows keep the raw line verbatim so the
  * failure is reproducible downstream. Both frames come from ONE
  * predicate split of the same scan — accounting and data cannot
  * disagree.
  *
  * An explicit schema is REQUIRED: schema inference reads the whole
  * input once before the real scan (a second 100 TB pass), and a
  * corpus contract should be declared, not guessed.
  */
object JsonlSource {

  val CorruptCol = "_graft_corrupt"

  /** (good rows with `schema`, quarantined raw lines).
    *
    * The parsed frame is detached before the split: Spark refuses a
    * query whose pruned read schema is ONLY the corrupt column (the
    * quarantine side would be exactly that), and detaching also makes
    * good + quarantine ONE scan instead of two. At 100 TB the same
    * shape applies with the materialization as a parquet write
    * (parse once, split from the parsed copy) rather than a cache. */
  def read(spark: SparkSession, path: String, schema: StructType)
      : (DataFrame, DataFrame) = {
    val raw = Materialize.detached(spark.read
      .schema(schema.add(CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path))
    val good = raw.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val quarantined = raw.filter(col(CorruptCol).isNotNull)
      .select(col(CorruptCol).as("raw_line"))
    (good, quarantined)
  }

  /** Ingestion accounting: one row — rows parsed, rows quarantined,
    * quarantine permille (exact integer arithmetic). */
  def ingestStats(good: DataFrame, quarantined: DataFrame): DataFrame = {
    val g = good.sparkSession.range(1).select(
      lit(good.count()).as("n_good"), lit(quarantined.count()).as("n_quarantined"))
    g.withColumn("total", col("n_good") + col("n_quarantined"))
      .withColumn("quarantined_permille",
        when(col("total") > 0, expr("(n_quarantined * 1000) div total")))
      .drop("total")
  }
}

/** CSV twin of [[JsonlSource]]: same permissive-parse + verbatim
  * quarantine contract for delimited corpora (malformed rows land in
  * the corrupt column as the raw line; the split runs off one detached
  * scan for the same two reasons). Spark's CSV reader quarantines rows
  * with the wrong column count or unconvertible values. */
object CsvSource {

  /** (good rows with `schema`, quarantined raw lines). */
  def read(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false, delimiter: String = ","): (DataFrame, DataFrame) = {
    val raw = Materialize.detached(spark.read
      .schema(schema.add(JsonlSource.CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", JsonlSource.CorruptCol)
      .option("header", header.toString)
      .option("sep", delimiter)
      .csv(path))
    val good = raw.filter(col(JsonlSource.CorruptCol).isNull)
      .drop(JsonlSource.CorruptCol)
    val quarantined = raw.filter(col(JsonlSource.CorruptCol).isNotNull)
      .select(col(JsonlSource.CorruptCol).as("raw_line"))
    (good, quarantined)
  }
}

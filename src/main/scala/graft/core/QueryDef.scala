package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark query plus (when SQL-expressible) an
  * equivalent DuckDB oracle over the same parquet tables.
  *
  * Cross-engine determinism rules every entry follows:
  *   - sums/avgs of doubles go through an exact DECIMAL cast, then back to
  *     DOUBLE (float summation order differs between engines; decimal
  *     addition is exact and associative);
  *   - every result is totally ordered by unique key columns (LIMIT/OFFSET
  *     would otherwise be nondeterministic, and row order feeds the hash);
  *   - dates/timestamps are emitted as formatted strings (events.ts is
  *     nanosecond-precision parquet which Spark truncates to micros);
  *   - no floating-point values produced by cross-row accumulation are
  *     compared raw;
  *   - no `round()` on doubles: Spark rounds the shortest decimal
  *     rendering (BigDecimal.valueOf) while DuckDB rounds the binary
  *     value — e.g. x/100 = 1035.0075 rounds to .008 vs .007.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    benchmark: Boolean = false)

object QueryDef {
  def apply(oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, Some(oracle))
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result digest: row count plus the exact (DECIMAL) sum of a 64-bit hash
  * of every row's columns. The sum is order-independent, so the digest
  * does not depend on partitioning or row order, and every column is
  * evaluated to compute it. Map values are hashed as key-sorted entry
  * arrays because Spark refuses to hash maps directly. */
object Digest {
  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows rows, hash $hash"
  }

  def of(df: DataFrame): Value = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = named.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    val total = if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString
    Value(row.getLong(0), total)
  }

  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}

package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, count, lit, pmod, sum, xxhash64}

/** Order-independent exact checksum of a query result: the row count plus the
  * sum of `pmod(xxhash64(all columns), 2^31 - 1)`. Every addend is a
  * non-negative integer below 2^31, so the BIGINT sum is exact and the same
  * for any row order or partitioning; a double-typed sum would not be.
  * Evaluating it forces every output column of every row.
  */
object Checksum {
  val Modulus: Long = 2147483647L

  final case class Value(rows: Long, hashSum: Long) {
    def total: Long = rows + hashSum
  }

  /** The one-row aggregate that computes the checksum of `df`. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    df.select(pmod(xxhash64(cols.toIndexedSeq: _*), lit(Modulus)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0L)).as("s"))
  }

  /** Read the result row of [[frame]]. */
  def collect(agg: DataFrame): Value = {
    val r = agg.collect()(0)
    Value(r.getLong(0), r.getLong(1))
  }

  def of(df: DataFrame): Value = collect(frame(df))
}

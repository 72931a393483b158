package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers that make query results bit-exact across engines (Spark vs
  * the DuckDB oracle), independent of aggregation order.
  *
  * Floating-point SUM is order-dependent; a 1000-executor cluster and a
  * single-threaded oracle will not add doubles in the same order. So
  * every money/quantity aggregate goes through exact DECIMAL arithmetic
  * and is only cast back to DOUBLE at the end — the exact decimal value
  * has a single nearest double, so the final cast is deterministic on
  * both engines. This also holds at 100 TB: decimal sums are
  * associative, so partial (map-side) aggregation stays correct.
  */
object Parity {
  /** Exact 2-decimal view of a money/quantity double column. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent SUM of a double column, returned as DOUBLE. */
  def sumD(c: Column): Column = sum(dec2(c)).cast("double")

  /** Exact revenue term `x * (1 - d)` in decimal, summed, as DOUBLE. */
  def sumRevenue(price: Column, discount: Column): Column =
    sum(dec2(price) * (lit(1).cast(DecimalType(18, 2)) - dec2(discount)))
      .cast("double")
}

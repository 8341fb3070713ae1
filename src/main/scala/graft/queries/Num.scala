package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Cross-engine numeric determinism helpers.
  *
  * The correctness gate hash-compares our results against a DuckDB
  * oracle. Double-precision SUM/AVG are order-dependent, and Spark's
  * partitioned partial aggregation does not add in the same order as
  * DuckDB — so raw double aggregates can differ in the last ULPs and
  * fail an exact hash compare.
  *
  * Recipe used by every query that aggregates doubles:
  *   1. cast the (fixed-point-valued) double column to DECIMAL first —
  *      sums/products over decimals are *exact* and order-independent
  *      in both engines;
  *   2. aggregate in decimal;
  *   3. cast the final value back to DOUBLE (exact decimal → nearest
  *      double is deterministic), so both engines emit bit-identical
  *      doubles and the output schema stays engine-neutral.
  *
  * The oracle SQL mirrors the same casts textually.
  */
object Num {

  /** Exact 2-decimal view of a money/quantity-like double column. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 4-decimal view (for products of two 2-decimal values). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent sum of a 2-decimal double column, as double. */
  def exactSum2(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Order-independent mean of a 2-decimal double column: exact sum
    * divided by count — one deterministic double division.
    */
  def exactAvg2(c: Column): Column =
    sum(dec2(c)).cast(DoubleType) / count(c)
}

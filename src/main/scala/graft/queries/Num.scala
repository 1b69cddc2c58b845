package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit}

/** Numeric column helpers shared by the query modules. The quantizers
  * round half up with `floor(x·k + 0.5)`, never a cast: a cast truncates
  * toward zero, and the exact-parity integer folds need the same
  * integer the oracle's `floor` gives. */
private[graft] object Num {

  def d(x: Column): Column = x.cast("double")

  /** Half-up integer cents from a monetary double. */
  def cents(c: Column): Column =
    floor(c * lit(100.0) + lit(0.5)).cast("long")

  /** Half-up integer 1e-6 units — quantize before summing doubles so
    * the sum is order-free. */
  def q6(c: Column): Column =
    floor(c * lit(1.0e6) + lit(0.5)).cast("long")
}

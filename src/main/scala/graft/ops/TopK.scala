package graft.ops

import graft.functions.{Ranked, TopKWithRest}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Top-K + "Other" rollup and percent-of-total — the dashboard's doughnut
  * prep, done client-side in the reference (`frontend/src/App.js:97-142`:
  * sort desc → slice(0,7) → sum the remainder into one "Other" bucket →
  * percent-of-total in the tooltip).
  *
  * Scale notes: the rollup is ONE aggregate pass
  * ([[graft.functions.TopKWithRest]] through `udaf`): each partition keeps
  * a k-entry buffer plus the sum of what it evicted, and the buffers merge
  * in one partial + final aggregate — no global sort, no join, no cached
  * input, so a call leaves nothing behind in the session's cache and the
  * same plan holds at 1000 executors.
  */
object TopK {

  /** `df` must be pre-aggregated (one row per key). Keeps the top `k` rows
    * by (`valueCol` desc nulls last, `keyCol` asc) and rolls every other
    * row into one `otherLabel` row summing `valueCol`. No non-null
    * remainder → no "Other" row (reference guard,
    * `frontend/src/App.js:105,125`); empty input → no rows. `keyCol` must
    * be a string column (the rollup label shares it) and `valueCol` a
    * double column. With `totalCol`, every row also carries the sum of
    * all non-null values of `df` in that column.
    */
  def topKPlusOther(df: DataFrame, keyCol: String, valueCol: String, k: Int,
                    otherLabel: String = "Other",
                    totalCol: Option[String] = None): DataFrame = {
    val Seq(kt, vt) = df.select(keyCol, valueCol).schema.map(_.dataType)
    require(kt == StringType, s"topKPlusOther: key column $keyCol must be StringType, got $kt")
    require(vt == DoubleType, s"topKPlusOther: value column $valueCol must be DoubleType, got $vt")
    val rollup = udaf(TopKWithRest(k), Encoders.product[Ranked])
    val r = df.agg(rollup(col(keyCol), col(valueCol)).as("r"))
    val other = array(struct(lit(otherLabel).as("key"), col("r.rest").as("value")))
    val rows = when(col("r.rest").isNull, col("r.top"))
      .otherwise(concat(col("r.top"), other))
    r.select(explode(rows).as("e"), col("r.total").as("total"))
      .select(Seq(col("e.key").as(keyCol), col("e.value").as(valueCol)) ++
        totalCol.map(col("total").as(_)): _*)
  }

  /** Adds `pctCol` = value / total * 100, rounded to `scale`. The grand
    * total is a scalar aggregate broadcast back over the rows — not a
    * global (single-partition) window, so it distributes.
    */
  def withPercentOfTotal(df: DataFrame, valueCol: String,
                         pctCol: String = "pct", scale: Int = 2): DataFrame = {
    val total = df.agg(sum(col(valueCol)).as("__total"))
    df.crossJoin(broadcast(total))
      // (100 * v) / total, matching the oracle's evaluation order exactly —
      // (v / total) * 100 can differ in the last ulp and flip the rounding
      .withColumn(pctCol, round(lit(100) * col(valueCol) / col("__total"), scale))
      .drop("__total")
  }

  /** Top-N rows per group by `order` (must totally order within a group). */
  def topNPerGroup(df: DataFrame, groupCols: Seq[String], n: Int, order: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n)
      .withColumnRenamed("__rn", "rn_in_group")
  }
}

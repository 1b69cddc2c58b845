package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.{d, q6}

/** Hundred-thirty-third wave — **q_anderson_darling**: the two-sample
  * Anderson–Darling statistic between the 'click' and 'view' value
  * distributions — the tail-sensitive companion to the KS/Mann-Whitney
  * /Cliff's-δ family already shipped (AD weights the CDF discrepancy
  * by 1/(F(1−F)), so tail differences that KS underweights dominate).
  *
  * Tie-adjusted discrete form (the Scholz–Stephens k-sample A²ₖₙ with
  * k = 2, stated over the merged distinct-value count table):
  * A² = (N−1)/N² · Σ_{i∈{a,b}} (1/n_i) ·
  *      Σ_{j<L} l_j·(N·M_ij − n_i·B_j)² / (B_j·(N−B_j)),
  * with l_j the merged count at the j-th distinct value, B_j the
  * merged cumulative, M_ij sample i's cumulative. Every squared
  * numerator is EXACT in decimal(38,0) (HUGEINT in the oracle); each
  * per-value term is 1e-6-quantized before the order-free sum, and
  * the (N−1)/N²/n_i scaling is applied once at emit — the established
  * float-mean parity discipline.
  *
  * Scale shape: one |value-domain|-bounded count table + prefix-sum
  * windows ordered by value — no per-row global sort, the q_chi2 /
  * q_cliffs_delta altitude.
  *
  * Int headroom (the wave convention): the decimal numerator
  * l·(N·M − n_i·B)² grows ~N⁵, and decimal(38,0) (= DuckDB HUGEINT's
  * ~1.7e38) overflows near N ≈ 6·10⁷ merged rows — under non-ANSI
  * Spark an overflowing term becomes NULL and silently DROPS from the
  * sum on both engines. Past that row count, pre-divide each term by
  * B(N−B) in double BEFORE squaring (ulp-drift, not overflow) or
  * rank-bucket the value domain first; at the gate SFs (N ≤ 2·10⁵)
  * the exact-decimal form is the parity-safe choice. */
object Breadth132 {

  /** Two-sample AD over the cent-quantized `valCol` of groups a/b of
    * `grpCol`. */
  private[graft] def andersonDarling(df: DataFrame, grpCol: String,
                                     valCol: String, a: String,
                                     b: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def wide(c: Column): Column = c.cast(dec)
    val vc = df.filter(col(grpCol) === a || col(grpCol) === b)
      .select(col(grpCol).as("__g"),
        floor(col(valCol) * lit(100.0) + lit(0.5)).cast("long").as("__v"))
      .groupBy(col("__v"))
      .agg(sum(when(col("__g") === a, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === b, 1L).otherwise(0L)).as("__cb"))
    val w = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pre = vc
      .withColumn("__ma", sum(col("__ca")).over(w))
      .withColumn("__mb", sum(col("__cb")).over(w))
      .withColumn("__na", sum(col("__ca")).over(all))
      .withColumn("__nb", sum(col("__cb")).over(all))
      .withColumn("__l", col("__ca") + col("__cb"))
      .withColumn("__bj", col("__ma") + col("__mb"))
      .withColumn("__n", col("__na") + col("__nb"))
    def term(m: Column, ni: Column): Column =
      q6(d(wide(col("__l")) *
        (wide(col("__n")) * wide(m) - wide(ni) * wide(col("__bj"))) *
        (wide(col("__n")) * wide(m) - wide(ni) * wide(col("__bj")))) /
        d(col("__bj") * (col("__n") - col("__bj"))))
    val terms = pre.filter(col("__bj") < col("__n"))
      .select(col("__na"), col("__nb"), col("__n"),
        term(col("__ma"), col("__na")).as("__ta"),
        term(col("__mb"), col("__nb")).as("__tb"))
    terms.groupBy(col("__na"), col("__nb"), col("__n"))
      .agg(sum(col("__ta")).as("__sa"), sum(col("__tb")).as("__sb"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        ((d(col("__n") - 1) / (d(col("__n")) * d(col("__n")))) *
          (d(col("__sa")) / lit(1.0e6) / d(col("__na")) +
            d(col("__sb")) / lit(1.0e6) / d(col("__nb"))))
          .as("ad_stat"))
  }

  val defs: Map[String, Q] = Map(
    "q_anderson_darling" -> ((s, dir) =>
      andersonDarling(Tables.events(s, dir), "event_type", "value",
        "click", "view")))

  val oracle: Map[String, String] = Map(
    "q_anderson_darling" ->
      """WITH vc AS (
        |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1),
        |pre AS (
        |  SELECT v, ca, cb, ca + cb AS l,
        |    CAST(sum(ca) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS ma,
        |    CAST(sum(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS mb,
        |    CAST(sum(ca) OVER () AS BIGINT) AS na,
        |    CAST(sum(cb) OVER () AS BIGINT) AS nb
        |  FROM vc),
        |terms AS (
        |  SELECT na, nb, na + nb AS n,
        |    CAST(floor(CAST(CAST(l AS HUGEINT)
        |        * (CAST(na + nb AS HUGEINT) * CAST(ma AS HUGEINT)
        |          - CAST(na AS HUGEINT) * CAST(ma + mb AS HUGEINT))
        |        * (CAST(na + nb AS HUGEINT) * CAST(ma AS HUGEINT)
        |          - CAST(na AS HUGEINT) * CAST(ma + mb AS HUGEINT))
        |        AS DOUBLE)
        |      / CAST((ma + mb) * (na + nb - (ma + mb)) AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS ta,
        |    CAST(floor(CAST(CAST(l AS HUGEINT)
        |        * (CAST(na + nb AS HUGEINT) * CAST(mb AS HUGEINT)
        |          - CAST(nb AS HUGEINT) * CAST(ma + mb AS HUGEINT))
        |        * (CAST(na + nb AS HUGEINT) * CAST(mb AS HUGEINT)
        |          - CAST(nb AS HUGEINT) * CAST(ma + mb AS HUGEINT))
        |        AS DOUBLE)
        |      / CAST((ma + mb) * (na + nb - (ma + mb)) AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS tb
        |  FROM pre WHERE ma + mb < na + nb)
        |SELECT na AS n_a, nb AS n_b,
        |  (CAST(n - 1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    * (CAST(CAST(sum(ta) AS BIGINT) AS DOUBLE) / 1000000.0
        |        / CAST(na AS DOUBLE)
        |      + CAST(CAST(sum(tb) AS BIGINT) AS DOUBLE) / 1000000.0
        |        / CAST(nb AS DOUBLE)) AS ad_stat
        |FROM terms GROUP BY na, nb, n""".stripMargin)
}

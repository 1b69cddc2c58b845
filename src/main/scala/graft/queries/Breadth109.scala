package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.cents

/** Hundred-tenth wave — exact distribution distances from merged count
  * tables: the drift metrics a data pipeline runs between sources /
  * cohorts, none approximated.
  *
  *  - **q_wasserstein1**: the 1-Wasserstein (earth-mover) distance
  *    between two event types' value distributions —
  *    Σ |F_A(v)·n_B − F_B(v)·n_A| · gap(v) over the merged value
  *    domain, cross-multiplied so everything before the single emit
  *    division is integer (decimal(38,0) summands; DuckDB's HUGEINT
  *    twins them).
  *  - **q_energy_distance**: the squared energy distance between two
  *    sources' document-length distributions — each E|X−Y| term from
  *    the classic sorted prefix-sum identity (O(V), never the n·m pair
  *    square), exact int64 until three divisions at emit.
  *  - **q_qq_deciles**: the QQ table between the same two sources —
  *    rank-exact deciles (ceil(p·n), p = 1..9 tenths) side by side,
  *    the drift report a human actually reads.
  *
  * Scale shape: everything ranks |distinct values| count tables with
  * prefix windows; no pairwise join exists anywhere. */
object Breadth109 {

  private val Dec = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Merged count table of one int column for groups a/b of grpCol. */
  private def merged(df: DataFrame, grpCol: String, v: Column, a: String,
                     b: String): DataFrame =
    df.filter(col(grpCol) === a || col(grpCol) === b)
      .groupBy(v.as("__v"))
      .agg(sum(when(col(grpCol) === a, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(grpCol) === b, 1L).otherwise(0L)).as("__cb"))

  /** W1 between groups a and b of cents(valCol). */
  private[graft] def wasserstein1(df: DataFrame, grpCol: String,
                                  valCol: String, a: String,
                                  b: String): DataFrame = {
    val ord = Window.orderBy(col("__v").asc)
    val all = Window.partitionBy()
    val t = merged(df, grpCol, cents(col(valCol)), a, b)
      .withColumn("__cuma", sum(col("__ca")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__cumb", sum(col("__cb")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__na", sum(col("__ca")).over(all))
      .withColumn("__nb", sum(col("__cb")).over(all))
      .withColumn("__gap", lead(col("__v"), 1).over(ord) - col("__v"))
      .filter(col("__gap").isNotNull)
      // decimal BEFORE the cross-multiply: cum·n wraps int64 at scale
      .withColumn("__term",
        abs(col("__cuma").cast(Dec) * col("__nb").cast(Dec) -
          col("__cumb").cast(Dec) * col("__na").cast(Dec)) *
          col("__gap").cast(Dec))
    t.agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(col("__term")).as("__s"))
      .select(col("n_a"), col("n_b"),
        (col("__s").cast("double") /
          (col("n_a") * col("n_b")).cast("double") / lit(100.0))
          .as("wasserstein1"))
  }

  /** Σ_{i,j} |x_i − y_j| over the prefixed count table (by name) via
    * the prefix identity — one decimal sum column. */
  private def absSumCross: Column =
    // per value v with ca_v: Σ_y cb_y·|v − y|
    //   = v·cntB_≤v − sumB_≤v + (sumB_>v − v·cntB_>v)
    sum(col("__ca").cast(Dec) *
      (col("__v") * col("__cbLe") - col("__sbLe") +
        (col("__sbAll") - col("__sbLe")) -
        col("__v") * (col("__nbAll") - col("__cbLe"))).cast(Dec))

  private def withBPrefix(vc: DataFrame): DataFrame = {
    val ord = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    vc.withColumn("__cbLe", sum(col("__cb")).over(ord))
      .withColumn("__sbLe", sum(col("__cb") * col("__v")).over(ord))
      .withColumn("__nbAll", sum(col("__cb")).over(all))
      .withColumn("__sbAll", sum(col("__cb") * col("__v")).over(all))
  }

  /** Squared energy distance between sources a and b on `numCol`. */
  private[graft] def energyDistance(docs: DataFrame, grpCol: String,
                                    numCol: String, a: String,
                                    b: String): DataFrame = {
    def cross(ga: String, gb: String): DataFrame = {
      val vc = merged(docs, grpCol, col(numCol).cast("long"), ga, gb)
      // when ga == gb the "b side" must still be populated: merged
      // puts all counts in __ca for the self case, so mirror them
      val vc2 = if (ga == gb) vc.withColumn("__cb", col("__ca")) else vc
      withBPrefix(vc2)
        .agg(max(col("__nbAll")).as("__nb"),
          sum(col("__ca")).as("__na"), absSumCross.as("__s"))
    }
    val ab = cross(a, b).select(col("__na").as("n_a"),
      col("__nb").as("n_b"), col("__s").as("__sab"))
    val aa = cross(a, a).select(col("__s").as("__saa"))
    val bb = cross(b, b).select(col("__s").as("__sbb"))
    ab.crossJoin(aa).crossJoin(bb)
      .select(col("n_a"), col("n_b"),
        (lit(2.0) * col("__sab").cast("double") /
          (col("n_a") * col("n_b")).cast("double") -
          col("__saa").cast("double") /
            (col("n_a") * col("n_a")).cast("double") -
          col("__sbb").cast("double") /
            (col("n_b") * col("n_b")).cast("double")).as("energy_sq"))
  }

  /** Rank-exact decile QQ table between sources a and b on `numCol`. */
  private[graft] def qqDeciles(docs: DataFrame, grpCol: String,
                               numCol: String, a: String,
                               b: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def side(g: String, out: String): DataFrame = {
      val vc = docs.filter(col(grpCol) === g)
        .groupBy(col(numCol).cast("long").as("__v"))
        .agg(count(lit(1)).as("__cnt"))
      val ord = Window.orderBy(col("__v").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val all = Window.partitionBy()
      val t = vc
        .withColumn("__pre", coalesce(sum(col("__cnt")).over(ord), lit(0L)))
        .withColumn("__n", sum(col("__cnt")).over(all))
      val dec = (1 to 9).toDF("decile")
      t.crossJoin(broadcast(dec))
        .withColumn("__k",
          floor((col("__n") * col("decile") + 9L).cast("double") /
            lit(10.0)).cast("long"))
        .filter(col("__k") > col("__pre") &&
          col("__k") <= col("__pre") + col("__cnt"))
        .groupBy(col("decile"))
        .agg(max(col("__v")).as(out))
    }
    side(a, "q_a").join(side(b, "q_b"), Seq("decile"))
      .select(col("decile").cast("long"), col("q_a"), col("q_b"))
      .orderBy(col("decile").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_wasserstein1" -> ((s, dir) =>
      wasserstein1(Tables.events(s, dir), "event_type", "value", "click",
        "purchase")),
    "q_energy_distance" -> ((s, dir) =>
      energyDistance(Tables.documents(s, dir), "source", "n_chars",
        "src0", "src1")),
    "q_qq_deciles" -> ((s, dir) =>
      qqDeciles(Tables.documents(s, dir), "source", "n_chars", "src0",
        "src1")))

  val oracle: Map[String, String] = Map(
    "q_wasserstein1" ->
      """WITH vc AS (
        |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |t AS (
        |  SELECT v, ca, cb,
        |    CAST(sum(ca) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER () AS BIGINT) AS na,
        |    CAST(sum(cb) OVER () AS BIGINT) AS nb,
        |    lead(v) OVER (ORDER BY v) - v AS gap
        |  FROM vc)
        |SELECT max(na) AS n_a, max(nb) AS n_b,
        |  CAST(sum(CAST(abs(cuma * nb - cumb * na) AS HUGEINT)
        |    * CAST(gap AS HUGEINT)) AS DOUBLE)
        |    / CAST(max(na) * max(nb) AS DOUBLE) / 100.0 AS wasserstein1
        |FROM t WHERE gap IS NOT NULL""".stripMargin,

    "q_energy_distance" ->
      """WITH vc AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM documents WHERE source IN ('src0', 'src1')
        |  GROUP BY 1),
        |px AS (
        |  SELECT v, ca, cb,
        |    CAST(sum(ca) OVER wle AS BIGINT) AS caLe,
        |    CAST(sum(ca * v) OVER wle AS BIGINT) AS saLe,
        |    CAST(sum(cb) OVER wle AS BIGINT) AS cbLe,
        |    CAST(sum(cb * v) OVER wle AS BIGINT) AS sbLe,
        |    CAST(sum(ca) OVER () AS BIGINT) AS naAll,
        |    CAST(sum(ca * v) OVER () AS BIGINT) AS saAll,
        |    CAST(sum(cb) OVER () AS BIGINT) AS nbAll,
        |    CAST(sum(cb * v) OVER () AS BIGINT) AS sbAll
        |  FROM vc
        |  WINDOW wle AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT max(naAll) AS na, max(nbAll) AS nb,
        |    sum(CAST(ca AS HUGEINT) * CAST(v * cbLe - sbLe
        |      + (sbAll - sbLe) - v * (nbAll - cbLe) AS HUGEINT)) AS sab,
        |    sum(CAST(ca AS HUGEINT) * CAST(v * caLe - saLe
        |      + (saAll - saLe) - v * (naAll - caLe) AS HUGEINT)) AS saa,
        |    sum(CAST(cb AS HUGEINT) * CAST(v * cbLe - sbLe
        |      + (sbAll - sbLe) - v * (nbAll - cbLe) AS HUGEINT)) AS sbb
        |  FROM px)
        |SELECT na AS n_a, nb AS n_b,
        |  2.0 * CAST(sab AS DOUBLE) / CAST(na * nb AS DOUBLE)
        |  - CAST(saa AS DOUBLE) / CAST(na * na AS DOUBLE)
        |  - CAST(sbb AS DOUBLE) / CAST(nb * nb AS DOUBLE) AS energy_sq
        |FROM s""".stripMargin,

    "q_qq_deciles" ->
      """WITH dec AS (SELECT unnest(range(1, 10)) AS decile),
        |qa AS (
        |  SELECT decile, CAST(max(v) AS BIGINT) AS q_a FROM (
        |    SELECT v, cnt,
        |      CAST(COALESCE(sum(cnt) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS pre,
        |      CAST(sum(cnt) OVER () AS BIGINT) AS n
        |    FROM (
        |      SELECT CAST(n_chars AS BIGINT) AS v,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM documents WHERE source = 'src0' GROUP BY 1))
        |  CROSS JOIN dec
        |  WHERE (n * decile + 9) // 10 > pre
        |    AND (n * decile + 9) // 10 <= pre + cnt
        |  GROUP BY 1),
        |qb AS (
        |  SELECT decile, CAST(max(v) AS BIGINT) AS q_b FROM (
        |    SELECT v, cnt,
        |      CAST(COALESCE(sum(cnt) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS pre,
        |      CAST(sum(cnt) OVER () AS BIGINT) AS n
        |    FROM (
        |      SELECT CAST(n_chars AS BIGINT) AS v,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM documents WHERE source = 'src1' GROUP BY 1))
        |  CROSS JOIN dec
        |  WHERE (n * decile + 9) // 10 > pre
        |    AND (n * decile + 9) // 10 <= pre + cnt
        |  GROUP BY 1),
        |j AS (SELECT qa.decile, q_a, q_b FROM qa JOIN qb USING (decile))
        |SELECT CAST(decile AS BIGINT) AS decile, q_a, q_b
        |FROM j ORDER BY 1""".stripMargin)
}

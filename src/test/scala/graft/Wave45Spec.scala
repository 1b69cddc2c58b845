package graft

import graft.queries.Breadth45
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the forty-sixth wave (Breadth45 Holt +
  * Theil–Sen). */
class Wave45Spec extends SparkSpec {
  import spark.implicits._

  private def ticks(rows: Seq[(Long, Long, Int)]) =
    rows.zipWithIndex.map { case ((k, c, d), i) =>
      (k, c.toDouble / 100.0, i.toLong + 1,
        f"2024-01-$d%02d 10:00:00")
    }.toDF("user_id", "value", "event_id", "at")
      .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      .withColumn("props", lit("{}"))

  test("holtStep: two bars by hand — level 120, trend 2, forecast " +
    "error = second close minus first level") {
    val (a1, r1) = Breadth45.holtStep(None, 100.0)
    assert(a1 === Breadth45.HoltAcc(100.0, 0.0))
    assert(r1 === Breadth45.HoltRow(100.0, 0.0, None))
    val (a2, r2) = Breadth45.holtStep(Some(a1), 200.0)
    assert(a2.l === 120.0 && a2.t === 2.0)
    assert(r2.fcErr === Some(100.0))
  }

  test("holtSeries: emitted columns are the hand fold in price units") {
    val got = Breadth45.holtSeries(
        ticks(Seq((1L, 100L, 1), (1L, 200L, 2))),
        "user_id", "ts", "value", "event_id")
      .orderBy("day")
      .select("level", "trend", "forecast", "fc_err")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got === Seq((1.0, 0.0, 1.0, None),
      (1.2, 0.02, 1.22, Some(1.0))))
  }

  test("theilSen: the low-median slope shrugs off one outlier bar that " +
    "would drag OLS") {
    // closes 100,200,300,400 step +100/bar, then a 10000 spike
    val rows = Seq(100L, 200L, 300L, 400L, 10000L).zipWithIndex
      .map { case (c, i) => (1L, c, i + 1) }
    val got = Breadth45.theilSen(ticks(rows),
        "user_id", "ts", "value", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSeq
    assert(got === Seq((1L, 10L, 1.0, "up")))
  }
}

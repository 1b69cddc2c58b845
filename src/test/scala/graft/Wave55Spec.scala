package graft

import graft.queries.Breadth52
import graft.streaming.{OcBarRow, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twin parity for the fifty-third wave's three-bar pattern
  * screen. */
class Wave55Spec extends SparkSpec {
  import spark.implicits._

  test("streamingThreeBar: flags equal the batch lag-window form on the " +
    "same bars, across micro-batch splits") {
    // soldiers, then crows, then a morning star, interleaved with noise
    val bars = Seq(
      (100L, 110L), (105L, 120L), (112L, 130L), // TWS on bar 3
      (130L, 120L), (125L, 110L), (118L, 100L), // crows on bar 6
      (200L, 100L), (105L, 110L), (108L, 160L), // star on bar 9
      (160L, 155L))
    val ocRows = bars.zipWithIndex.map { case ((o, c), i) =>
      OcBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), o, c) }
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val mem = MemoryStream[OcBarRow]
      val q = Streams.streamingThreeBar(mem.toDS())
        .writeStream.format("memory").queryName("threebar_snap")
        .outputMode("append").start()
      // split so every pattern's third bar lands in a LATER batch than
      // its first two — the ring must carry across the boundary
      Seq(0 until 2, 2 until 5, 5 until 8, 8 until 10).foreach { rg =>
        mem.addData(rg.map(ocRows): _*); q.processAllAvailable()
      }
      q.stop()
    }
    val got = spark.table("threebar_snap")
      .select("day", "three_white_soldiers", "three_black_crows",
        "morning_star")
      .collect().map(r => (r.getDate(0).toString, r.getBoolean(1),
        r.getBoolean(2), r.getBoolean(3))).sortBy(_._1).toSeq
    // batch form over equivalent ticks: two events per day (open, close)
    val ticks = bars.zipWithIndex.flatMap { case ((o, c), i) =>
      Seq((1L, o.toDouble / 100.0, i * 2L + 1, f"2024-01-${i + 1}%02d 09:00:00"),
        (1L, c.toDouble / 100.0, i * 2L + 2, f"2024-01-${i + 1}%02d 16:00:00"))
    }.toDF("user_id", "value", "event_id", "at")
      .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      .withColumn("props", lit("{}"))
    val want = Breadth52.threeBarPatterns(ticks,
        "user_id", "ts", "value", "event_id")
      .select("day", "three_white_soldiers", "three_black_crows",
        "morning_star")
      .collect().map(r => (r.getDate(0).toString, r.getBoolean(1),
        r.getBoolean(2), r.getBoolean(3))).sortBy(_._1).toSeq
    assert(got === want)
    assert(want.count(w => w._2 || w._3 || w._4) === 3,
      "all three patterns fire in the fixture")
  }
}

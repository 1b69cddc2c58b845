package graft

import graft.streaming.{BarRow, OhlcBarRow, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twins of the rolling median and Corwin–Schultz spread:
  * bit-exact parity with the batch forms across micro-batch splits. */
class Wave110Spec extends SparkSpec {
  import spark.implicits._

  test("streamingRollingMedian == batch q_rolling_median bit-for-bit " +
    "across a micro-batch split") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val closes = Seq(1000L, 1020L, 990L, 1050L, 1050L, 1010L, 1110L,
        1090L, 1200L, 950L)
      val barRows = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val mem = MemoryStream[BarRow]
      val q = Streams.streamingRollingMedian(mem.toDS())
        .writeStream.format("memory").queryName("rollmed_snap")
        .outputMode("append").start()
      Seq(0 until 4, 4 until 7, 7 until 10).foreach { rg =>
        mem.addData(rg.map(barRows): _*); q.processAllAvailable()
      }
      q.stop()
      val tick = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i.toLong, f"2024-01-${i + 1}%02d 15:00:00")
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("day", "n_in_window", "rolling_median")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getDouble(2))).sortBy(_._1).toSeq
      val got = rows(spark.table("rollmed_snap")
        .withColumn("day", col("day").cast("date")))
      val want = rows(Graft.rollingMedian(tick, "user_id", "ts", "value",
        "event_id"))
      assert(got === want && got.size === 10)
    }
  }

  test("streamingCsSpread == batch q_cs_spread bit-for-bit across a " +
    "micro-batch split") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val hls = Seq((200L, 100L), (400L, 200L), (300L, 250L),
        (500L, 300L), (450L, 400L))
      val barRows = hls.zipWithIndex.map { case ((h, l), i) =>
        OhlcBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), l, h, l) }
      val mem = MemoryStream[OhlcBarRow]
      val q = Streams.streamingCsSpread(mem.toDS())
        .writeStream.format("memory").queryName("cs_snap")
        .outputMode("append").start()
      Seq(0 until 2, 2 until 4, 4 until 5).foreach { rg =>
        mem.addData(rg.map(barRows): _*); q.processAllAvailable()
      }
      q.stop()
      // batch twin: two ticks per day hitting the same high/low
      val tick = hls.zipWithIndex.flatMap { case ((h, l), i) => Seq(
        (1L, h.toDouble / 100.0, (2 * i).toLong,
          f"2024-01-${i + 1}%02d 10:00:00"),
        (1L, l.toDouble / 100.0, (2 * i + 1).toLong,
          f"2024-01-${i + 1}%02d 15:00:00"))
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("day", "cs_spread")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
        .sortBy(_._1).toSeq
      val got = rows(spark.table("cs_snap")
        .withColumn("day", col("day").cast("date")))
      val want = rows(Graft.csSpread(tick, "user_id", "ts", "value",
        "event_id"))
      assert(got === want && got.size === 4)
    }
  }
}

package graft

import graft.streaming.{BarRow, DemandRow, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twins of the wave-100 forecasting recurrences: bit-exact
  * parity with the batch folds across micro-batch splits, on RocksDB
  * state. */
class Wave107Spec extends SparkSpec {
  import spark.implicits._

  test("streamingHoltWinters == batch q_holt_winters bit-for-bit " +
    "across a micro-batch split") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val closes = Seq(1000L, 1020L, 990L, 1050L, 1050L, 1010L, 1110L,
        1090L, 1200L)
      val barRows = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val mem = MemoryStream[BarRow]
      val q = Streams.streamingHoltWinters(mem.toDS())
        .writeStream.format("memory").queryName("hw_snap")
        .outputMode("append").start()
      Seq(0 until 3, 3 until 6, 6 until 9).foreach { rg =>
        mem.addData(rg.map(barRows): _*); q.processAllAvailable()
      }
      q.stop()
      val tick = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i.toLong, f"2024-01-${i + 1}%02d 15:00:00")
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("day", "level", "trend", "seasonal", "fitted")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .sortBy(_._1).toSeq
      val got = rows(spark.table("hw_snap")
        .withColumn("day", col("day").cast("date")))
      val want = rows(Graft.holtWinters(tick, "user_id", "ts", "value",
        "event_id"))
      assert(got === want)
      assert(got.head._5 === None && got.size === 9)
    }
  }

  test("streamingCroston == batch q_croston bit-for-bit across a " +
    "micro-batch split, gaps carried through the state") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      // demand days 1, 2, 5, 12 with sizes 10, 5, 20, 7
      val days = Seq((1, 10L), (2, 5L), (5, 20L), (12, 7L))
      val rows0 = days.map { case (d, v) =>
        DemandRow(1L, java.time.LocalDate.of(2024, 1, d), v) }
      val mem = MemoryStream[DemandRow]
      val q = Streams.streamingCroston(mem.toDS())
        .writeStream.format("memory").queryName("croston_snap")
        .outputMode("append").start()
      Seq(0 until 1, 1 until 3, 3 until 4).foreach { rg =>
        mem.addData(rg.map(rows0): _*); q.processAllAvailable()
      }
      q.stop()
      // batch twin input: one event per demand day carrying k=demand
      val tick = days.zipWithIndex.map { case ((d, v), i) =>
        (1L, i.toLong, f"2024-01-$d%02d 15:00:00", s"""{"k":$v}""")
      }.toDF("user_id", "event_id", "at", "props")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("day", "demand", "z_size", "p_interval", "forecast")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .sortBy(_._1).toSeq
      val got = rows(spark.table("croston_snap")
        .withColumn("day", col("day").cast("date")))
      val want = rows(Graft.croston(tick, "user_id", "ts", "k"))
      assert(got === want)
      assert(got.size === 4)
    }
  }
}

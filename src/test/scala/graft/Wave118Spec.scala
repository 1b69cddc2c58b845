package graft

import graft.streaming.{BarRow, Streams, VolBarRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twins of the VWMA / envelope / disparity windows:
  * bit-exact parity with the batch frames across micro-batch splits. */
class Wave118Spec extends SparkSpec {
  import spark.implicits._

  private val closes = Seq(1000L, 1020L, 990L, 1050L, 1050L, 1010L,
    1110L, 1090L, 1200L, 950L, 980L, 1030L)
  private val vols = Seq(5L, 3L, 8L, 2L, 9L, 1L, 4L, 7L, 6L, 2L, 3L, 5L)

  private def tick = closes.zip(vols).zipWithIndex.map {
    case ((c, v), i) => (1L, c.toDouble / 100.0, i.toLong,
      f"2024-01-${i + 1}%02d 15:00:00", s"""{"k":$v}""")
  }.toDF("user_id", "value", "event_id", "at", "props")
    .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")

  test("streamingVwma == batch q_vwma across a micro-batch split") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val rows0 = closes.zip(vols).zipWithIndex.map { case ((c, v), i) =>
        VolBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c, c, c, v) }
      val mem = MemoryStream[VolBarRow]
      val q = Streams.streamingVwma(mem.toDS())
        .writeStream.format("memory").queryName("vwma_snap")
        .outputMode("append").start()
      Seq(0 until 5, 5 until 9, 9 until 12).foreach { rg =>
        mem.addData(rg.map(rows0): _*); q.processAllAvailable()
      }
      q.stop()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("day", "vwma").collect()
        .map(r => (r.getDate(0).toString,
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sortBy(_._1).toSeq
      val got = rows(spark.table("vwma_snap")
        .withColumn("day", col("day").cast("date")))
      val want = rows(Graft.vwma(tick, "user_id", "ts", "value",
        "event_id", "k"))
      assert(got === want && got.size === 12)
    }
  }

  test("streamingEnvelope and streamingDisparity == their batch twins " +
    "across micro-batch splits") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val rows0 = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val memE = MemoryStream[BarRow]
      val qe = Streams.streamingEnvelope(memE.toDS())
        .writeStream.format("memory").queryName("env_snap")
        .outputMode("append").start()
      val memD = MemoryStream[BarRow]
      val qd = Streams.streamingDisparity(memD.toDS())
        .writeStream.format("memory").queryName("disp_snap")
        .outputMode("append").start()
      Seq(0 until 4, 4 until 8, 8 until 12).foreach { rg =>
        memE.addData(rg.map(rows0): _*); qe.processAllAvailable()
        memD.addData(rg.map(rows0): _*); qd.processAllAvailable()
      }
      qe.stop(); qd.stop()
      def envRows(df: org.apache.spark.sql.DataFrame) = df
        .select("day", "sma", "upper", "lower", "above_upper",
          "below_lower").collect()
        .map(r => (r.getDate(0).toString, r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4), r.getBoolean(5)))
        .sortBy(_._1).toSeq
      val gotE = envRows(spark.table("env_snap")
        .withColumn("day", col("day").cast("date")))
      val wantE = envRows(Graft.envelope(tick, "user_id", "ts", "value",
        "event_id"))
      assert(gotE === wantE && gotE.size === 12)
      def dispRows(df: org.apache.spark.sql.DataFrame) = df
        .select("day", "disparity").collect()
        .map(r => (r.getDate(0).toString, r.getDouble(1)))
        .sortBy(_._1).toSeq
      val gotD = dispRows(spark.table("disp_snap")
        .withColumn("day", col("day").cast("date")))
      val wantD = dispRows(Graft.disparity(tick, "user_id", "ts", "value",
        "event_id"))
      assert(gotD === wantD && gotD.size === 12)
    }
  }
}

package graft

import graft.queries.Breadth120
import graft.streaming.{SeqEvent, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twin pin for the hundred-twenty-first wave's sequence
  * match: the O(1) DFA equals the batch regex across micro-batch
  * splits, including an error landing exactly on a boundary. */
class Wave131Spec extends SparkSpec {
  import spark.implicits._

  test("streamingSequenceMatch == batch q_sequence_match verdicts " +
    "across splits (error on the batch boundary resets the signup)") {
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      // user 1: s v | e | s p  → matched (second signup converts)
      // user 2: s | e | p      → NOT matched (error between)
      // user 3: p s v          → NOT matched (wrong order)
      val evs = Seq(
        (1L, 1L, "signup"), (1L, 2L, "view"), (1L, 3L, "error"),
        (1L, 4L, "signup"), (1L, 5L, "purchase"),
        (2L, 1L, "signup"), (2L, 2L, "error"), (2L, 3L, "purchase"),
        (3L, 1L, "purchase"), (3L, 2L, "signup"), (3L, 3L, "view"))
      val rows = evs.map { case (u, i, t) =>
        SeqEvent(u, i, java.sql.Timestamp.valueOf(
          f"2024-01-01 10:00:${i.toInt}%02d"), t.take(1)) }
      val mem = MemoryStream[SeqEvent]
      val q = Streams.streamingSequenceMatch(mem.toDS())
        .writeStream.format("memory").queryName("seq_snap")
        .outputMode("update").start()
      // split so user 1's error and user 2's error land alone mid-stream
      val batches = Seq(
        rows.filter(r => r.user_id == 1 && r.event_id <= 2) ++
          rows.filter(r => r.user_id == 2 && r.event_id <= 1) ++
          rows.filter(_.user_id == 3),
        rows.filter(r => r.user_id == 1 && r.event_id == 3) ++
          rows.filter(r => r.user_id == 2 && r.event_id == 2),
        rows.filter(r => r.user_id == 1 && r.event_id >= 4) ++
          rows.filter(r => r.user_id == 2 && r.event_id == 3))
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      // last emit per user (max seq_len) is the final verdict
      val fin = spark.table("seq_snap")
        .groupBy("user_id")
        .agg(max(struct(col("seq_len"), col("matched"))).as("s"))
        .select(col("user_id"), col("s.seq_len"), col("s.matched"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getBoolean(2))).toMap
      val batch = Breadth120.sequenceMatch(
        evs.map { case (u, i, t) =>
          (u, i, t, f"2024-01-01 10:00:${i.toInt}%02d") }
          .toDF("user_id", "event_id", "event_type", "at")
          .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at"),
        "user_id", "event_type", "ts", "event_id")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getBoolean(2))).toMap
      assert(fin === batch)
      assert(fin(1L)._2 === true && fin(2L)._2 === false &&
        fin(3L)._2 === false)
    }
  }
}

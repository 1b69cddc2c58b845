package graft

import graft.queries.Breadth120
import graft.streaming.{SeqEvent, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twin pin for the window funnel: bounded-state live levels
  * equal the batch greedy across micro-batch splits, including a dead
  * first anchor revived by a later view. */
class Wave136Spec extends SparkSpec {
  import spark.implicits._

  test("streamingWindowFunnel == batch q_window_funnel histogram " +
    "across splits") {
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val H = 3600L // seconds; window is 48 h
      // (user, idx, type, offset seconds)
      val evs = Seq(
        // A: clean 3-level inside the window, spread over batches
        (1L, 1L, "view", 0L), (1L, 2L, "click", 10L * H),
        (1L, 3L, "purchase", 20L * H),
        // B: purchase misses the 48 h deadline → level 2
        (2L, 1L, "view", 0L), (2L, 2L, "click", 10L * H),
        (2L, 3L, "purchase", 50L * H),
        // C: click precedes the only view → level 1
        (3L, 1L, "click", 0L), (3L, 2L, "view", 1L * H),
        // D: no view at all → level 0
        (4L, 1L, "error", 0L),
        // E: first anchor dies (purchase past ITS deadline), a later
        // view re-anchors and completes → level 3
        (5L, 1L, "view", 0L), (5L, 2L, "click", 47L * H),
        (5L, 3L, "view", 49L * H), (5L, 4L, "click", 50L * H),
        (5L, 5L, "purchase", 60L * H))
      val rows = evs.map { case (u, i, t, off) =>
        SeqEvent(u, i, new java.sql.Timestamp(1700000000000L + off * 1000L),
          t.take(1)) }
      val mem = MemoryStream[SeqEvent]
      val q = Streams.streamingWindowFunnel(mem.toDS())
        .writeStream.format("memory").queryName("funnel_snap")
        .outputMode("update").start()
      // three batches cut mid-funnel for users A and E
      val cut1: ((Long, Long, String, Long)) => Boolean =
        e => e._4 <= 10L * H
      val cut2: ((Long, Long, String, Long)) => Boolean =
        e => e._4 > 10L * H && e._4 <= 49L * H
      val b1 = rows.zip(evs).collect { case (r, e) if cut1(e) => r }
      val b2 = rows.zip(evs).collect { case (r, e) if cut2(e) => r }
      val b3 = rows.zip(evs).collect { case (r, e)
        if !cut1(e) && !cut2(e) => r }
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
      q.stop()
      // final level per user = the emit at the max batch; take the max
      // level per user (levels are monotone)
      val finals = spark.table("funnel_snap")
        .groupBy("user_id").agg(max("level").as("level"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(finals === Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0, 5L -> 3))
      // histogram parity vs the batch greedy on the same events
      val batchDf = evs.map { case (u, i, t, off) =>
        (u, i, t, new java.sql.Timestamp(1700000000000L + off * 1000L)) }
        .toDF("user_id", "event_id", "event_type", "ts")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val batchHist = Breadth120.windowFunnel(batchDf, "user_id",
        "event_type", "ts").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val streamHist = finals.values.groupBy(identity)
        .map { case (l, v) => l -> v.size.toLong }
      assert(streamHist === batchHist)
    }
  }

  test("funnel + sequence-match late-row guard: a cross-batch " +
    "out-of-order event is dropped and COUNTED, never folded silently") {
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      def ev(u: Long, i: Long, t: String, sec: Long) =
        SeqEvent(u, i, new java.sql.Timestamp(1700000000000L + sec * 1000L),
          t.take(1))
      // batch 1 folds up to sec 100; batch 2 delivers a LATE view
      // (sec 50) plus an in-order click
      val memF = MemoryStream[SeqEvent]
      val qf = Streams.streamingWindowFunnel(memF.toDS())
        .writeStream.format("memory").queryName("funnel_late")
        .outputMode("update").start()
      memF.addData(ev(1, 1, "view", 100)); qf.processAllAvailable()
      memF.addData(ev(1, 2, "view", 50), ev(1, 3, "click", 200))
      qf.processAllAvailable(); qf.stop()
      val fl = spark.table("funnel_late")
        .orderBy(col("n_late").desc).collect()
      assert(fl.head.getLong(2) === 1L, s"late view must be counted: ${fl.toSeq}")
      assert(fl.head.getInt(1) === 2, "in-order click still pairs the sec-100 view")
      // sequence match: a LATE error must not cancel the signup
      val memS = MemoryStream[SeqEvent]
      val qs = Streams.streamingSequenceMatch(memS.toDS())
        .writeStream.format("memory").queryName("seq_late")
        .outputMode("update").start()
      memS.addData(ev(2, 1, "signup", 100)); qs.processAllAvailable()
      memS.addData(ev(2, 2, "error", 50), ev(2, 3, "purchase", 200))
      qs.processAllAvailable(); qs.stop()
      val sl = spark.table("seq_late").orderBy(col("seq_len").desc).collect()
      assert(sl.head.getBoolean(2) === true,
        "the late error is dropped, so the signup still converts")
      assert(sl.head.getLong(3) === 1L, "late error counted in n_late")
    }
  }
}

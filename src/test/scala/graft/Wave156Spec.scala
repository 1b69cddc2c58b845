package graft

import graft.queries.{Breadth146, Breadth147}
import graft.streaming.{AmsDoc, SprtEvent, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twins of the hundred-forty-seventh/-eighth waves: the
  * live SPRT decision and the mergeable AMS sketch. */
class Wave156Spec extends SparkSpec {
  import spark.implicits._

  test("streamingSprt last emit == batch q_sprt across micro-batch " +
    "splits") { withRocks {
    implicit val sqlCtx = spark.sqlContext
    // 1-in-7 successes drift ~-522k micro-nats per 7 obs -> the lower
    // bound (-2.94M) crosses around k ~ 40; 60 obs guarantee a
    // decision with the crossing INSIDE batch two
    val n = 60
    val xs = (1 to n).map(i => if (i % 7 == 0) 1L else 0L)
    val evs = xs.zipWithIndex.map { case (x, i) =>
      SprtEvent("a", i.toLong + 1,
        java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        x)
    }
    val mem = MemoryStream[SprtEvent]
    val q = Streams.streamingSprt(mem.toDS())
      .writeStream.format("memory").queryName("sprt_live")
      .outputMode("append").start()
    Seq(0 until n / 3, n / 3 until n).foreach { rg =>
      mem.addData(rg.map(evs): _*); q.processAllAvailable()
    }
    q.stop()
    val live = spark.table("sprt_live").orderBy(col("k").desc)
      .collect().head
    val batch = Breadth147.sprt(
      evs.map(e => ("a", e.event_id, e.ts,
          if (e.x == 1L) 0.04 else 0.01, 1L))
        .toDF("event_type", "event_id", "ts", "value", "user_id"))
      .collect().head
    assert(live.getAs[Long]("k") == batch.getAs[Long]("n_obs"))
    assert(live.getAs[String]("decision") ==
      batch.getAs[String]("decision"))
    assert(live.getAs[Long]("n_late") == 0L)
    // the absorbing crossing index survives the batch boundary
    val firstDecided = spark.table("sprt_live")
      .filter(col("decision") =!= "continue")
      .orderBy(col("k").asc).collect().head
    assert(firstDecided.getAs[Long]("k") ==
      batch.getAs[Long]("n_at_decision"))
    assert(firstDecided.getAs[Long]("llr") ==
      batch.getAs[Long]("llr_at_decision"))
  }}

  test("streamingAmsSketch per-source sketches merge to the batch " +
    "global sketch") { withRocks {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      AmsDoc("s0", 1L, "a b c a"), AmsDoc("s1", 2L, "b b d"),
      AmsDoc("s2", 3L, "e a"), AmsDoc("s0", 4L, "c c c"),
      AmsDoc("s1", 5L, "a d e f"))
    val mem = MemoryStream[AmsDoc]
    val q = Streams.streamingAmsSketch(mem.toDS())
      .writeStream.format("memory").queryName("ams_live")
      .outputMode("update").start()
    Seq(docs.take(2), docs.drop(2)).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    // latest snapshot per source
    val snaps = spark.table("ams_live")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("n_tokens").desc)))
      .filter(col("__rn") === 1).collect()
    val merged = snaps.map(r => r.getSeq[Long](r.fieldIndex("sums")))
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y }).toSeq
    val batch = Breadth146.amsSketches(
      docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
      .collect().map(_.getAs[Long]("s")).toSeq
    assert(merged == batch, s"merged $merged vs batch $batch")
    assert(snaps.map(_.getAs[Long]("n_tokens")).sum == 16L)
  }}
}

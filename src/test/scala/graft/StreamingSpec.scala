package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

case class DocEv(doc_id: Long, ts: Timestamp, text: String)

case class Ch(user_id: Long, ts: Timestamp, value: Double, del: Boolean)

case class ChMap(user_id: Long, ts: Timestamp, value: Double,
                 props: Map[String, String], del: Boolean)

/** Streaming semantics (SURVEY.md §2.9): batch/stream parity of the
  * shared transforms, watermark-bounded windowed aggs, snapshot
  * maintenance via foreachBatch — the reference's tick formalized. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    Ev(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), user, typ, v, "{}")

  test("windowedStats: stream (append mode after watermark) == batch on same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val batch1 = Seq(ev(1, 0, 1, "click", 1.0), ev(2, 3, 1, "click", 2.0),
      ev(3, 7, 2, "view", 5.0))
    // batch2's late max ts pushes the watermark past batch1's windows
    val batch2 = Seq(ev(4, 40, 1, "click", 9.0))
    val q = Streams.windowedStats(mem.toDF(), "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("ws_out")
      .outputMode("append").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ws_out")
      .select("window_start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batchTwin = Streams.windowedStats(
        (batch1 ++ batch2).toDF()
          .withColumn("ts", col("ts").cast("timestamp_ntz")), "5 minutes", "1 minute")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    // every closed (emitted) stream window must match the batch result
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batchTwin), s"stream=$streamed batch=$batchTwin")
  }

  test("streamingOhlc: closed stream bars == batch bars on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val batch1 = Seq(ev(3, 2, 1, "click", 5.0), ev(1, 0, 1, "click", 2.0),
      ev(2, 4, 1, "click", 1.0), ev(4, 3, 2, "view", 7.0))
    val batch2 = Seq(ev(9, 50, 1, "click", 9.0)) // pushes watermark past bar 1
    val q = Streams.streamingOhlc(mem.toDF(), "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ohlc_out")
      .select("bar_start", "user_id", "open", "high", "low", "close", "n_ticks")
      .as[(Timestamp, Long, Double, Double, Double, Double, Long)]
      .collect().toSet
    val batchTwin = Streams.streamingOhlc(
        (batch1 ++ batch2).toDF()
          .withColumn("ts", col("ts").cast("timestamp_ntz")), "5 minutes", "1 minute")
      .as[(Timestamp, Long, Double, Double, Double, Double, Long)]
      .collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batchTwin), s"stream=$streamed batch=$batchTwin")
    // the user-1 first bar is closed and must carry the tie-safe
    // open (earliest ts) and close (latest ts), not min/max of value
    val bar1 = streamed.find(b => b._2 == 1L && b._7 == 3L)
    assert(bar1.exists(b => b._3 == 2.0 && b._4 == 5.0 && b._5 == 1.0 && b._6 == 1.0),
      s"bar1=$bar1")
  }

  test("streamingSessions closes gap-separated sessions once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.streamingSessions(mem.toDF(), "10 minutes", "1 minute")
      .writeStream.format("memory").queryName("ss_out")
      .outputMode("append").start()
    // user 1: events at :00 and :05 (one session), then :30 (new session)
    mem.addData(ev(1, 0, 1, "click", 1.0), ev(2, 5, 1, "click", 2.0))
    q.processAllAvailable()
    mem.addData(ev(3, 30, 1, "click", 4.0))
    q.processAllAvailable()
    // push watermark far ahead so the :30 session also closes
    mem.addData(ev(4, 59, 2, "view", 9.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ss_out")
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(out.contains((1L, 2L, 3.0)), s"first session missing: $out")
    assert(out.contains((1L, 1L, 4.0)), s"second session missing: $out")
  }

  test("streamingMinhashNearDups matches batch minhashNearDups pairs and " +
    "jaccard values on the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    def variant(change: Int) =
      (1 to 40).map(i => if (i == change) "CHANGED" else s"tok$i").mkString(" ")
    val texts = Seq(
      1L -> base, 2L -> variant(20),
      3L -> (100 to 140).map(i => s"zzz$i").mkString(" "),
      4L -> variant(5),
      5L -> (200 to 240).map(i => s"yyy$i").mkString(" "))
    val corpus = texts.toDF("doc_id", "text")
    val batchPairs = graft.dedup.Dedup
      .minhashNearDups(corpus, "doc_id", "text", 3, 12, 4, 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(batchPairs.nonEmpty, "fixture must contain batch near-dups")
    val mem = MemoryStream[DocEv]
    val q = Streams.streamingMinhashNearDups(mem.toDF(), corpus,
        "doc_id", "text", "1 minute", shingleLen = 3, numHashes = 12,
        bands = 4, threshold = 0.5)
      .writeStream.format("memory").queryName("smnd_out")
      .outputMode("append").start()
    mem.addData(texts.map { case (id, t) =>
      DocEv(id, Timestamp.valueOf("2024-01-01 10:00:00"), t) }: _*)
    q.processAllAvailable()
    q.stop()
    // the stream sees each pair from both ends (live=a,corpus=b and
    // live=b,corpus=a) — canonicalize to (min,max) and expect EXACTLY the
    // batch pairs with identical verified jaccard
    val streamed = spark.table("smnd_out")
      .select(least(col("doc_id"), col("corpus_id")).as("a"),
        greatest(col("doc_id"), col("corpus_id")).as("b"), col("jaccard"))
      .distinct()
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batchPairs, s"stream=$streamed batch=$batchPairs")
  }

  test("streamingSimhashNearDups matches batch simhashNearDups pairs and " +
    "hamming values on the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val texts = Seq(
      1L -> base,
      2L -> (1 to 60).map(i => if (i == 30) "EDIT" else s"w$i").mkString(" "),
      3L -> (500 to 560).map(i => s"zz$i").mkString(" "))
    val corpus = texts.toDF("doc_id", "text")
    val batchPairs = graft.dedup.Dedup
      .simhashNearDups(corpus.withColumn("src", lit("s")),
        "doc_id", "text", "src", maxHamming = 6)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(batchPairs.nonEmpty, "fixture must contain batch near-dups")
    val mem = MemoryStream[DocEv]
    val q = Streams.streamingSimhashNearDups(mem.toDF(), corpus,
        "doc_id", "text", "1 minute", maxHamming = 6)
      .writeStream.format("memory").queryName("ssnd_out")
      .outputMode("append").start()
    mem.addData(texts.map { case (id, t) =>
      DocEv(id, Timestamp.valueOf("2024-01-01 10:00:00"), t) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssnd_out")
      .select(least(col("doc_id"), col("corpus_id")).as("a"),
        greatest(col("doc_id"), col("corpus_id")).as("b"), col("hamming"))
      .distinct()
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batchPairs, s"stream=$streamed batch=$batchPairs")
  }

  test("incrementalLatest keeps one state row per key and emits only changed keys") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    val mem = MemoryStream[EventRow]
    val q = Streams.incrementalLatest(mem.toDS())
      .toDF("user_id", "event_id", "value")
      .writeStream.format("memory").queryName("il_out")
      .outputMode("update").start()
    def er(id: Long, minute: Int, user: Long, v: Double) =
      EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
        user, "click", v, "{}")
    mem.addData(er(1, 5, 1, 1.0), er(2, 3, 1, 0.5), er(3, 1, 2, 7.0))
    q.processAllAvailable()
    val afterBatch1 = spark.table("il_out")
      .as[(Long, Long, Double)].collect().toSet
    // per key, only the max-ts row of the batch is emitted
    assert(afterBatch1 == Set((1L, 1L, 1.0), (2L, 3L, 7.0)))
    mem.addData(er(4, 2, 1, 9.9)) // OLDER than user 1's state → no emission
    q.processAllAvailable()
    val afterBatch2 = spark.table("il_out")
      .as[(Long, Long, Double)].collect().toSet
    assert(afterBatch2 == afterBatch1, "stale event must not change the snapshot")
    mem.addData(er(5, 30, 1, 2.5)) // newer → user 1 re-emitted
    q.processAllAvailable()
    q.stop()
    val afterBatch3 = spark.table("il_out")
      .as[(Long, Long, Double)].collect().toSet
    assert(afterBatch3.contains((1L, 5L, 2.5)))
  }

  test("keyedStateLatest (transformWithState): state survives a checkpoint " +
    "restart and the folded deltas equal the generation-fold snapshot on the same input") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      val ckpt = Files.createTempDirectory("graft_tws_ckpt").toString
      def er(id: Long, minute: Int, user: Long, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          user, "click", v, "{}")
      // the same batch sequence drives BOTH snapshot forms
      val batches = Seq(
        Seq(er(1, 5, 1, 1.0), er(2, 3, 1, 0.5), er(3, 1, 2, 7.0)),
        Seq(er(4, 2, 1, 9.9)),                  // stale: must not change state
        Seq(er(5, 4, 1, 8.8)),                  // post-restart stale probe
        Seq(er(6, 30, 1, 2.5), er(7, 2, 3, 4.0))) // newer + a new key
      // -- keyed-state form, with a stop/restart between batches 2 and 3
      val mem = MemoryStream[EventRow]
      val folded = scala.collection.mutable.Map.empty[Long, (Long, Double)]
      def run(): org.apache.spark.sql.streaming.StreamingQuery =
        Streams.keyedStateLatest(mem.toDS()).toDF("user_id", "event_id", "value")
          .writeStream.option("checkpointLocation", ckpt)
          .outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r =>
              folded(r.getLong(0)) = (r.getLong(1), r.getDouble(2))): Unit
          }.start()
      val q1 = run()
      batches.take(2).foreach { b => mem.addData(b: _*); q1.processAllAvailable() }
      assert(folded.toMap == Map(1L -> (1L, 1.0), 2L -> (3L, 7.0)),
        "within-batch last-wins + stale-event no-op before the restart")
      q1.stop()
      // RESTART from the same checkpoint: the RocksDB state store must
      // still hold user 1's latest (minute 5) — er(5, minute 4) would
      // wrongly win if state had been lost
      val q2 = run()
      batches.drop(2).foreach { b => mem.addData(b: _*); q2.processAllAvailable() }
      q2.stop()
      // -- generation-fold form over the SAME batch sequence
      val storeDir = Files.createTempDirectory("graft_tws_store").toString + "/store"
      val snapDir = Files.createTempDirectory("graft_tws_snap").toString + "/snap"
      val mem2 = MemoryStream[EventRow]
      var genSnap = Map.empty[Long, (Long, Double)]
      val q3 = Streams.startSnapshotStream(spark, mem2.toDF(), storeDir,
          Files.createTempDirectory("graft_tws_ck2").toString, snapDir,
          Trigger.ProcessingTime(0)) { (snap, _) =>
        genSnap = snap.select("user_id", "event_id", "value").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      }
      batches.foreach { b => mem2.addData(b: _*); q3.processAllAvailable() }
      q3.stop()
      assert(folded.toMap == genSnap,
        s"keyed-state and generation-fold snapshots diverged: $folded vs $genSnap")
      assert(folded.toMap ==
        Map(1L -> (6L, 2.5), 2L -> (3L, 7.0), 3L -> (7L, 4.0)))
      // -- schema-generic form over the SAME batch sequence (including a
      // stop/restart at the same seam): full-row deltas must fold to the
      // full latest rows — every column, not the (id, value) projection
      val ckptRows = Files.createTempDirectory("graft_tws_ckpt_rows").toString
      val mem3 = MemoryStream[EventRow]
      val foldedRows = scala.collection.mutable.Map.empty[Long, EventRow]
      def runRows(): org.apache.spark.sql.streaming.StreamingQuery =
        Streams.keyedStateLatestRows(mem3.toDS())
          .writeStream.option("checkpointLocation", ckptRows)
          .outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[EventRow], _: Long) =>
            b.collect().foreach(e => foldedRows(e.user_id) = e): Unit
          }.start()
      val q4 = runRows()
      batches.take(2).foreach { b => mem3.addData(b: _*); q4.processAllAvailable() }
      q4.stop()
      val q5 = runRows()
      batches.drop(2).foreach { b => mem3.addData(b: _*); q5.processAllAvailable() }
      q5.stop()
      val expected = Map(1L -> er(6, 30, 1, 2.5), 2L -> er(3, 1, 2, 7.0),
        3L -> er(7, 2, 3, 4.0))
      assert(foldedRows.toMap == expected,
        s"full-row keyed snapshot diverged: $foldedRows vs $expected")
      // and its (id, value) projection equals the narrow form's fold
      assert(foldedRows.view.mapValues(e => (e.event_id, e.value)).toMap
        == folded.toMap)
    }
  }

  test("streamingJourney survives a kill-and-restore from checkpoint " +
    "mid-journey: the restarted query's final snapshots equal the batch " +
    "seqPatterns prefix over the SAME events (exactly-once state)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      val ckpt = Files.createTempDirectory("graft_journey_ckpt").toString
      def er(id: Long, minute: Int, user: Long, typ: String) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          user, typ, 1.0, "{}")
      val journeys = Map(
        1L -> Seq("a", "b", "a", "c"), 2L -> Seq("c", "b"),
        3L -> Seq.fill(10)("b")) // frozen at 8 — growth spans the restart
      val rows = journeys.toSeq.flatMap { case (u, ts) =>
        ts.zipWithIndex.map { case (t, i) => er(u * 100 + i, i, u, t) }
      }
      // the kill lands MID-JOURNEY: every key has state before it and
      // growth after it
      val before = rows.filter(_.event_id % 100 < 2)
      val after = rows.filter(_.event_id % 100 >= 2)
      val folded = scala.collection.mutable.Map.empty[Long, (Int, String)]
      val mem = MemoryStream[EventRow]
      def run(): org.apache.spark.sql.streaming.StreamingQuery =
        Streams.streamingJourney(mem.toDS())
          .writeStream.option("checkpointLocation", ckpt)
          .outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.JourneySnap], _: Long) =>
            b.collect().foreach(j =>
              folded(j.user_id) = (j.n_events, j.seq)): Unit
          }.start()
      val q1 = run()
      mem.addData(before: _*); q1.processAllAvailable()
      q1.stop() // the kill
      // restart from the SAME checkpoint: frozen prefixes must resume
      // from 2 events per key, not restart from empty (a state loss
      // would re-admit the first two events' types at positions 1-2)
      val q2 = run()
      mem.addData(after: _*); q2.processAllAvailable()
      q2.stop()
      val want = journeys.view.mapValues { ts =>
        val p = ts.take(8); (p.length, p.map("|" + _ + "|").mkString)
      }.toMap
      assert(folded.toMap == want,
        s"post-restart journeys diverged from the batch prefix: " +
          s"$folded vs $want")
    }
  }

  test("streamingJourney (transformWithState) freezes the first-8 prefix " +
    "per key and its final snapshot equals the batch seqPatterns prefix; " +
    "journeyMatches screens snapshots against the mined pattern table " +
    "exactly like an independent subsequence check") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      def er(id: Long, minute: Int, user: Long, typ: String) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          user, typ, 1.0, "{}")
      val journeys = Map(
        1L -> Seq("a", "b", "c"), 2L -> Seq("a", "c", "b"),
        3L -> Seq("b", "a", "c"),
        4L -> Seq.fill(10)("a")) // 10 events -> frozen at 8
      val rows = journeys.toSeq.flatMap { case (u, ts) =>
        ts.zipWithIndex.map { case (t, i) => er(u * 100 + i, i, u, t) }
      }
      // split mid-journey so prefixes grow ACROSS micro-batches
      val batches = Seq(rows.filter(_.event_id % 100 < 2),
        rows.filter(e => e.event_id % 100 >= 2 && e.event_id % 100 < 5),
        rows.filter(_.event_id % 100 >= 5))
      val mem = MemoryStream[EventRow]
      val q = Streams.streamingJourney(mem.toDS())
        .writeStream.format("memory").queryName("journey_out")
        .outputMode("update").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val snaps = spark.table("journey_out")
      // final snapshot per key = the row with the largest n_events
      val fin = snaps.groupBy("user_id")
        .agg(max(struct(col("n_events"), col("seq"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.seq"))
      val got = fin.collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
      val want = journeys.view.mapValues { ts =>
        val p = ts.take(8); (p.length, p.map("|" + _ + "|").mkString)
      }.toMap
      assert(got == want, s"journey snapshots diverged: $got vs $want")
      // screen the final snapshots against the batch-mined patterns and
      // check every match against an INDEPENDENT subsequence definition
      val batchEvents = rows.map(e => (e.event_id,
          Timestamp.valueOf(f"2024-01-01 10:${e.event_id % 100}%02d:00"),
          e.user_id, e.event_type, e.value, e.props))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val mined = graft.queries.Breadth178.seqPatterns(batchEvents)
      val matches = Streams.journeyMatches(fin, mined)
        .select("user_id", "pattern").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      def contains(seq: Seq[String], pat: Seq[String]): Boolean = pat match {
        case h +: t =>
          val i = seq.indexOf(h); i >= 0 && contains(seq.drop(i + 1), t)
        case _ => true
      }
      val expected = (for {
        (u, ts) <- journeys.toSeq
        p <- mined.select("pattern").collect().map(_.getString(0))
        if contains(ts.take(8), p.split('>').toSeq)
      } yield (u, p)).toSet
      assert(matches == expected,
        s"pattern screen diverged: $matches vs $expected")
      // the frozen-at-8 user matched only the pure-'a' patterns
      assert(matches.filter(_._1 == 4L).map(_._2) == Set("a", "a>a", "a>a>a"))
    }
  }

  test("streamingZscore (transformWithState) == batch q_rolling_zscore fold " +
    "on in-order delivery, including the zero-variance null") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      def er(id: Long, minute: Int, user: Long, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          user, "click", v, "{}")
      // user 1: spike then recovery; user 2: constant -> sd=0 -> z null
      val u1 = Seq(1.0, 2, 3, 4, 5, 6, 100, 7, 8).zipWithIndex
        .map { case (v, i) => er(i + 1, i + 1, 1, v) }
      val u2 = (1 to 7).map(i => er(100 + i, i, 2, 5.0))
      val batches = Seq(
        u1.take(4) ++ u2.take(3), u1.slice(4, 7) ++ u2.slice(3, 6),
        u1.drop(7) ++ u2.drop(6))
      val mem = MemoryStream[EventRow]
      val q = Streams.streamingZscore(mem.toDS())
        .writeStream.format("memory").queryName("zs_out")
        .outputMode("append").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]))
      val got = spark.table("zs_out")
        .select("user_id", "event_id", "value", "mean_prev", "z")
        .collect().map(key).toSet
      val want = graft.queries.Breadth9.rollingZscore(
          (u1 ++ u2).toDS().toDF(), "user_id", "value",
          Seq(col("ts").asc, col("event_id").asc))
        .collect().map(key).toSet
      assert(got == want, s"stream vs batch: $got vs $want")
      // the constant-window probe really exercised the null path
      assert(got.exists { case (u, _, _, _, z) => u == 2L && z.isEmpty })
      assert(got.exists { case (u, id, _, _, z) =>
        u == 1L && id == 7L && z.exists(_ > 3) })
    }
  }

  test("streamingDrawdown (transformWithState) == batch q_drawdown aggregate " +
    "on in-order delivery, including the zero-peak null") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      def er(id: Long, minute: Int, user: Long, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          user, "tick", v, "{}")
      // user 1: peak-trough-recovery; user 2: all-zero series -> null dd
      val u1 = Seq(10.0, 12, 6, 9, 3, 15, 14).zipWithIndex
        .map { case (v, i) => er(i + 1, i + 1, 1, v) }
      val u2 = (1 to 4).map(i => er(100 + i, i, 2, 0.0))
      val batches = Seq(u1.take(3) ++ u2.take(2), u1.slice(3, 5) ++ u2.drop(2),
        u1.drop(5))
      val mem = MemoryStream[EventRow]
      val q = Streams.streamingDrawdown(mem.toDS())
        .writeStream.format("memory").queryName("dd_snap")
        .outputMode("update").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      // final state per key = the row with that key's max n_ticks
      val got = spark.table("dd_snap")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      val want = Graft.maxDrawdown((u1 ++ u2).toDS().toDF(),
          "user_id", "value", Seq(col("ts").asc, col("event_id").asc))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
      assert(got == want, s"stream vs batch: $got vs $want")
      // worst drawdown really is the 12 -> 3 trough; zero-peak key is null
      assert(got.exists { case (u, _, _, dd) => u == 1L && dd.contains(0.75) })
      assert(got.exists { case (u, _, _, dd) => u == 2L && dd.isEmpty })
    }
  }

  test("dedupWithinWatermark drops re-deliveries of the same (user,event)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.dedupWithinWatermark(mem.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    mem.addData(ev(1, 0, 1, "click", 1.0), ev(1, 0, 1, "click", 1.0),
      ev(2, 1, 1, "view", 2.0))
    q.processAllAvailable()
    mem.addData(ev(1, 0, 1, "click", 1.0)) // replay within watermark
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd_out").count() == 2)
  }

  test("stream-stream interval join attributes purchases to preceding clicks " +
    "within the window, with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.purchaseAttribution(mem.toDF(), windowSeconds = 600, "1 minute")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    mem.addData(
      ev(1, 0, 1, "click", 0.0),      // within 10 min of the purchase
      ev(2, 8, 1, "purchase", 50.0),
      ev(3, 30, 1, "click", 0.0),     // AFTER the purchase → not attributed
      ev(4, 5, 2, "click", 0.0))      // different user → not attributed
    q.processAllAvailable()
    mem.addData(ev(9, 59, 3, "view", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val out = spark.table("attr_out")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(out == Set((2L, 1L)), s"got $out")
  }

  test("checkpoint recovery: a restarted file-source query resumes exactly " +
    "once (no reprocessing, no loss) — §2.9 fault handling") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_src").toString
    val ckpt = Files.createTempDirectory("graft_ck").toString
    val outDir = Files.createTempDirectory("graft_out").toString
    def writeBatch(ids: Range): Unit =
      ids.map(i => Ev(i, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", i, "{}"))
        .toDF().write.mode("append").parquet(srcDir)
    writeBatch(1 to 5)
    def start() = spark.readStream.schema(Streams.eventSchema
        .copy(fields = Streams.eventSchema.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.TimestampType) else f)))
      .parquet(srcDir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outDir).count() == 5)
    writeBatch(6 to 8)
    val q2 = start(); q2.processAllAvailable(); q2.stop() // restart from ckpt
    val out = spark.read.parquet(outDir)
    assert(out.count() == 8, "restart must process only the new file")
    assert(out.select("event_id").distinct().count() == 8)
  }

  test("streamingContentDedup drops same-content docs (normalization " +
    "included) within the watermark, keeps distinct content") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // reuse Ev: event_type carries the "text" payload for this test
    val q = Streams.streamingContentDedup(
        mem.toDF().withColumnRenamed("event_type", "text"), "text", "10 minutes")
      .writeStream.format("memory").queryName("cd_out")
      .outputMode("append").start()
    mem.addData(
      ev(1, 0, 1, "Same Doc  Text", 1.0),
      ev(2, 1, 2, "same doc text", 2.0),   // normalizes identically → dropped
      ev(3, 2, 3, "different text", 3.0))
    q.processAllAvailable()
    mem.addData(ev(4, 3, 4, "SAME   DOC TEXT", 4.0)) // replay within watermark
    q.processAllAvailable()
    q.stop()
    val out = spark.table("cd_out").select("event_id")
      .as[Long].collect().toSet
    assert(out == Set(1L, 3L), s"got $out")
  }

  test("Trigger.AvailableNow drains the whole backlog then terminates " +
    "— the backfill mode for catching a store up without a resident job") {
    val srcDir = Files.createTempDirectory("graft_an_src").toString
    val ckpt = Files.createTempDirectory("graft_an_ck").toString
    (1 to 3).foreach { b =>
      (1 to 4).map(i => Ev(b * 10L + i, Timestamp.valueOf("2024-01-01 10:00:00"),
          1, "click", i, "{}"))
        .toDF().write.mode("append").parquet(srcDir)
    }
    val q = spark.readStream.schema(Streams.eventSchema
        .copy(fields = Streams.eventSchema.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.TimestampType) else f)))
      .parquet(srcDir)
      .writeStream.format("memory").queryName("an_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    assert(spark.table("an_out").count() == 12)
  }

  test("near-dup screen drains a file backlog under Trigger.AvailableNow " +
    "and finds the batch pairs — the catch-up mode after screen downtime") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val texts = Seq(
      1L -> base,
      2L -> (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" "),
      3L -> (100 to 140).map(i => s"zzz$i").mkString(" "))
    val corpus = texts.toDF("doc_id", "text")
    val srcDir = Files.createTempDirectory("graft_nd_src").toString
    val ckpt = Files.createTempDirectory("graft_nd_ck").toString
    texts.map { case (id, t) =>
      (id, Timestamp.valueOf("2024-01-01 10:00:00"), t)
    }.toDF("doc_id", "ts", "text").write.mode("append").parquet(srcDir)
    val live = spark.readStream
      .schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(srcDir)
    val q = Streams.streamingMinhashNearDups(live, corpus,
        "doc_id", "text", "1 minute", threshold = 0.5)
      .writeStream.format("memory").queryName("ndan_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow screen must self-terminate")
    val pairs = spark.table("ndan_out")
      .select(least(col("doc_id"), col("corpus_id")),
        greatest(col("doc_id"), col("corpus_id")))
      .distinct().as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("snapshot stream: incremental latest-per-key snapshot per tick, " +
    "batch-id-idempotent store writes, broadcast seam invoked") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val store = Files.createTempDirectory("graft_store").toString + "/prices"
    val snapDir = Files.createTempDirectory("graft_snap").toString + "/snap"
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Double]]
    val q = Streams.startSnapshotStream(spark, mem.toDF(), store, ckpt, snapDir,
        Trigger.ProcessingTime(0)) { (snap, _) =>
      snaps += snap.select("user_id", "value").as[(Long, Double)].collect().toMap
    }
    mem.addData(ev(1, 0, 1, "click", 1.0), ev(2, 1, 2, "view", 5.0))
    q.processAllAvailable()
    mem.addData(ev(3, 2, 1, "click", 7.0)) // user 1 gets a newer value
    q.processAllAvailable()
    q.stop()
    assert(snaps.size == 2)
    assert(snaps(0) == Map(1L -> 1.0, 2L -> 5.0))
    assert(snaps(1) == Map(1L -> 7.0, 2L -> 5.0)) // latest wins after tick 2
    // incremental chain == full recompute over the accumulated store
    val recomputed = Streams.snapshotRecompute(spark, store)
      .select("user_id", "value").as[(Long, Double)].collect().toMap
    assert(snaps.last == recomputed,
      s"incremental=${snaps.last} recompute=$recomputed")
    // history store holds every event exactly once, in batch_id partitions
    assert(spark.read.parquet(store).select("event_id").distinct().count() == 3)
  }

  test("snapshot stream survives a checkpoint reset: batch ids restart " +
    "at 0 but the accumulated snapshot state is inherited") {
    implicit val sqlCtx = spark.sqlContext
    val store = Files.createTempDirectory("graft_cr_store").toString + "/prices"
    val snapDir = Files.createTempDirectory("graft_cr_snap").toString + "/snap"
    def run(ckpt: String, batches: Seq[Seq[Ev]]): Seq[Map[Long, Double]] = {
      val mem = MemoryStream[Ev]
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Double]]
      val q = Streams.startSnapshotStream(spark, mem.toDF(), store, ckpt, snapDir,
          Trigger.ProcessingTime(0)) { (snap, _) =>
        snaps += snap.select("user_id", "value").as[(Long, Double)].collect().toMap
      }
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      snaps.toSeq
    }
    // first life: two batches, two users
    run(Files.createTempDirectory("graft_cr_ck1").toString, Seq(
      Seq(ev(1, 0, 1, "click", 1.0), ev(2, 1, 2, "view", 5.0)),
      Seq(ev(3, 2, 1, "click", 7.0))))
    // checkpoint WIPED (fresh dir): batch ids restart at 0; user 3 is
    // new, users 1 and 2 have no events in the new life at all
    val snaps2 = run(Files.createTempDirectory("graft_cr_ck2").toString, Seq(
      Seq(ev(4, 3, 3, "click", 9.0))))
    assert(snaps2.last == Map(1L -> 7.0, 2L -> 5.0, 3L -> 9.0),
      s"pre-reset keys must survive the reset: ${snaps2.last}")
  }

  test("snapshot replay is a fixpoint: folding a batch into its own " +
    "snapshot generation changes nothing (at-least-once safety)") {
    val batch = Seq(ev(1, 0, 1, "click", 1.0), ev(2, 1, 2, "view", 5.0),
      ev(3, 2, 1, "click", 7.0)).toDF()
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val snap1 = Streams.latestSnapshot(batch)
    // replay: latest over (snapshot ∪ same batch) == snapshot
    val replayed = Streams.latestSnapshot(snap1.unionByName(batch))
    assert(replayed.collect().toSet == snap1.collect().toSet)
  }

  test("SnapshotFanout pushes to all clients and isolates per-client failure") {
    val fan = new graft.streaming.SnapshotFanout
    val got = scala.collection.mutable.Set.empty[String]
    fan.register("a", (_, _) => got += "a": Unit)
    fan.register("boom", (_, _) => throw new RuntimeException("client gone"))
    fan.register("c", (_, _) => got += "c": Unit)
    val snap = Seq((1L, 2.0)).toDF("user_id", "value")
    val results = fan.broadcast(snap, 0L)
    assert(results == Map("a" -> true, "boom" -> false, "c" -> true))
    assert(got == Set("a", "c"), "healthy clients still receive the push")
    fan.unregister("boom")
    assert(fan.broadcast(snap, 1L) == Map("a" -> true, "c" -> true))
  }

  test("merge stream applies CDC semantics: insert, within-batch " +
    "last-wins, update, tombstone, re-insert, absent-key delete no-op") {
    implicit val sqlCtx = spark.sqlContext
    val snapDir = Files.createTempDirectory("graft_merge_snap").toString + "/snap"
    val ckpt = Files.createTempDirectory("graft_merge_ckpt").toString
    val mem = MemoryStream[Ch]
    val ch = (user: Long, sec: Int, v: Double, del: Boolean) =>
      Ch(user, Timestamp.valueOf(f"2024-01-01 10:00:$sec%02d"), v, del)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Double]]
    val q = Streams.startMergeStream(spark, mem.toDF(), "user_id",
        ordCols = Seq("ts"), deleteCol = "del", snapDir, ckpt,
        Trigger.ProcessingTime(0)) { (snap, _) =>
      snaps += snap.select("user_id", "value").as[(Long, Double)].collect().toMap
    }
    // b1: u1 insert; u2 insert then same-batch update (last-wins by ts)
    mem.addData(ch(1, 0, 1.0, false), ch(2, 1, 2.0, false), ch(2, 2, 3.0, false))
    q.processAllAvailable()
    // b2: u1 update, u3 insert, u2 tombstone
    mem.addData(ch(1, 3, 10.0, false), ch(3, 4, 5.0, false), ch(2, 5, 0.0, true))
    q.processAllAvailable()
    // b3: u2 re-insert after delete, u4 tombstone for an absent key
    mem.addData(ch(2, 6, 7.0, false), ch(4, 7, 0.0, true))
    q.processAllAvailable()
    q.stop()
    assert(snaps.toSeq == Seq(
      Map(1L -> 1.0, 2L -> 3.0),
      Map(1L -> 10.0, 3L -> 5.0),
      Map(1L -> 10.0, 2L -> 7.0, 3L -> 5.0)))
    // the persisted snapshot equals the last callback state
    val persisted = spark.read.parquet(s"$snapDir/batch_id=2")
      .select("user_id", "value").as[(Long, Double)].collect().toMap
    assert(persisted == snaps.last)
  }

  test("merge stream survives a checkpoint reset: folded state is " +
    "inherited and a post-reset tombstone still deletes") {
    implicit val sqlCtx = spark.sqlContext
    val snapDir = Files.createTempDirectory("graft_mcr_snap").toString + "/snap"
    val ch = (user: Long, sec: Int, v: Double, del: Boolean) =>
      Ch(user, Timestamp.valueOf(f"2024-01-01 10:00:$sec%02d"), v, del)
    def run(ckpt: String, batches: Seq[Seq[Ch]]): Seq[Map[Long, Double]] = {
      val mem = MemoryStream[Ch]
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Double]]
      val q = Streams.startMergeStream(spark, mem.toDF(), "user_id",
          ordCols = Seq("ts"), deleteCol = "del", snapDir, ckpt,
          Trigger.ProcessingTime(0)) { (snap, _) =>
        snaps += snap.select("user_id", "value")
          .as[(Long, Double)].collect().toMap
      }
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      snaps.toSeq
    }
    // first life: TWO batches (the lone-gen-0 reset edge is documented
    // as not inherited, so the surviving generation must have id >= 1)
    run(Files.createTempDirectory("graft_mcr_ck1").toString, Seq(
      Seq(ch(1, 0, 1.0, false)), Seq(ch(2, 1, 2.0, false))))
    // checkpoint WIPED: ids restart at 0; u2's tombstone must find the
    // inherited state to have anything to delete
    val snaps2 = run(Files.createTempDirectory("graft_mcr_ck2").toString, Seq(
      Seq(ch(2, 2, 0.0, true), ch(3, 3, 3.0, false))))
    assert(snaps2.last == Map(1L -> 1.0, 3L -> 3.0),
      s"inherited state wrong after reset: ${snaps2.last}")
  }

  test("startQuoteStream runs the whole reference tick on the DSv2 source: " +
    "stage → shape → store → latest-per-symbol snapshot, restart resumes from the committed tick") {
    import graft.sources.Sources
    val staging = Files.createTempDirectory("graft_qs").toString + "/ticks"
    val store = Files.createTempDirectory("graft_qs_store").toString + "/store"
    val snapDir = Files.createTempDirectory("graft_qs_snap").toString + "/snap"
    val ckpt = Files.createTempDirectory("graft_qs_ckpt").toString
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 00:00:0$s")
    var snap = Map.empty[String, (Double, java.sql.Timestamp)]
    def run(): Unit = {
      val q = Streams.startQuoteStream(spark, staging, store, ckpt, snapDir,
          Trigger.ProcessingTime(0)) { (s, _) =>
        snap = s.select("symbol", "current_price", "timestamp").collect()
          .map(r => r.getString(0) ->
            (r.getDouble(1), r.getTimestamp(2))).toMap
      }
      q.processAllAvailable(); q.stop()
    }
    // tick 1: two symbols; tick 2: BTC price moves
    Sources.stageTickPayload(spark,
      () => """[{"symbol":"BTC","name":"Bitcoin","current_price":1.0,"market_cap":9.0},
              |{"symbol":"ETH","name":"Ether","current_price":2.0,"market_cap":5.0}]""".stripMargin,
      staging, ts(1))
    Sources.stageTickPayload(spark,
      () => """[{"symbol":"BTC","name":"Bitcoin","current_price":3.0,"market_cap":9.5}]""",
      staging, ts(2))
    run()
    // latest per symbol (lowercased), stamped with each row's TICK time
    assert(snap == Map("btc" -> (3.0, ts(2)), "eth" -> (2.0, ts(1))), s"$snap")
    // restart: a new tick updates ETH; an invalid row (no name) is
    // validated out by the shape step; the two old ticks are NOT re-read
    Sources.stageTickPayload(spark,
      () => """[{"symbol":"ETH","name":"Ether","current_price":9.0,"market_cap":6.0},
              |{"symbol":"XXX","current_price":1.0}]""".stripMargin,
      staging, ts(3))
    run()
    assert(snap == Map("btc" -> (3.0, ts(2)), "eth" -> (9.0, ts(3))),
      s"each symbol must carry its own tick time: $snap")
    // the history store holds every shaped row across both lives
    val stored = spark.read.parquet(store)
      .select("symbol", "current_price").as[(String, Double)].collect().toSet
    assert(stored == Set(("btc", 1.0), ("eth", 2.0), ("btc", 3.0), ("eth", 9.0)))
  }

  test("a quote tick materializes its snapshot once: at most 3 Spark jobs " +
    "whatever the fanout client count, rows pushed in dashboard order, and " +
    "the pushed frame outlives its generation directory") {
    import graft.sources.Sources
    import graft.streaming.SnapshotFanout
    import scala.jdk.CollectionConverters._
    def ts(s: Int) = Timestamp.valueOf(f"2024-03-01 00:00:$s%02d")
    def coin(sym: String, price: Double, cap: String) =
      s"""{"symbol":"$sym","name":"$sym coin","current_price":$price,"market_cap":$cap}"""
    def capRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Option[Double])] =
      df.select("symbol", "market_cap").collect().toSeq
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // two null market caps and a three-way market-cap tie across the ticks
    val tick1 = Seq(coin("BTC", 1.0, "9.0"), coin("ETH", 2.0, "5.0"),
      coin("DOGE", 0.1, "null"), coin("ADA", 0.5, "5.0"))
    val tick2 = Seq(coin("BTC", 3.0, "9.5"), coin("XRP", 0.6, "5.0"),
      coin("SOL", 4.0, "null"))
    val dashboard = Seq("btc" -> Some(9.5), "ada" -> Some(5.0), "eth" -> Some(5.0),
      "xrp" -> Some(5.0), "doge" -> None, "sol" -> None)
    /** Jobs of the second tick, what each client got for it, the frame
      * handed to onSnapshot and that tick's generation directory. */
    def run(clients: Int) = {
      val root = Files.createTempDirectory("graft_qjobs").toString
      def stage(coins: Seq[String], t: Timestamp): Unit =
        Sources.stageTickPayload(spark, () => coins.mkString("[", ",", "]"),
          s"$root/ticks", t): Unit
      val fanout = new SnapshotFanout
      val pushed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[(String, Option[Double])])]
      (0 until clients).foreach { c =>
        fanout.register(s"client-$c", (df, b) => pushed.add(b -> capRows(df)): Unit)
      }
      var last: (org.apache.spark.sql.DataFrame, Long) = null
      stage(tick1, ts(1))
      val q = Streams.startQuoteStream(spark, s"$root/ticks", s"$root/store",
          s"$root/ckpt", s"$root/snap", Trigger.ProcessingTime(0)) { (snap, b) =>
        last = (snap, b)
        fanout.broadcast(snap, b): Unit
      }
      try {
        q.processAllAvailable()
        val (_, jobs) = jobsDuring { stage(tick2, ts(2)); q.processAllAvailable() }
        val (frame, batch) = last
        val got = pushed.asScala.toSeq.collect { case (b, rows) if b == batch => rows }
        (jobs, got, frame, s"$root/snap/batch_id=$batch")
      } finally q.stop()
    }
    val (jobs1, got1, _, _) = run(1)
    val (jobs3, got3, frame, genDir) = run(3)
    assert(jobs1 <= 3, s"a quote tick ran $jobs1 Spark jobs")
    assert(jobs3 == jobs1, s"3 fanout clients: $jobs3 jobs, 1 client: $jobs1")
    assert(got1 == Seq(dashboard), s"$got1")
    assert(got3 == Seq.fill(3)(dashboard), s"$got3")
    // the generation is one file holding the same rows in the same order
    val parts = new java.io.File(genDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(parts.length == 1, parts.mkString(", "))
    assert(capRows(spark.read.parquet(genDir)) == dashboard)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(genDir))
    assert(!new java.io.File(genDir).exists())
    assert(capRows(frame) == dashboard, "the pushed frame is driver-local")
  }

  /** Stages quote tick `t` (BTC moves, one new coin) under `root`. */
  private def stageQuote(root: String, t: Int): Unit =
    Graft.stageTick(spark, () => s"""[{"symbol":"BTC","name":"Bitcoin",
      |"current_price":$t.0,"market_cap":9.0},{"symbol":"C$t","name":"coin $t",
      |"current_price":1.0,"market_cap":$t.0}]""".stripMargin,
      s"$root/ticks", Timestamp.valueOf(f"2024-03-01 00:00:$t%02d")): Unit

  private def startQuotes(root: String) =
    Graft.startQuoteStream(spark, s"$root/ticks", s"$root/store",
      s"$root/ckpt", s"$root/snap", Trigger.ProcessingTime(0))((_, _) => ())

  test("a failed store write ends the quote stream with its own error and " +
    "no job left running; a restart on the same checkpoint replays the tick " +
    "to the uninterrupted run's store partitions and snapshot generation") {
    import org.apache.spark.graft.SparkInternals
    import org.apache.spark.sql.streaming.StreamingQueryException
    def rows(dir: String) = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // uninterrupted: ticks 1-3 are batches 0-2
    val ref = Files.createTempDirectory("graft_qfail_ref").toString
    stageQuote(ref, 1)
    val q0 = startQuotes(ref)
    try (1 to 3).foreach { t =>
      if (t > 1) stageQuote(ref, t)
      q0.processAllAvailable()
    } finally q0.stop()
    val root = Files.createTempDirectory("graft_qfail").toString
    stageQuote(root, 1)
    val q1 = startQuotes(root)
    val err = try {
      q1.processAllAvailable()
      stageQuote(root, 2); q1.processAllAvailable()
      // a regular file where the store's partitions go: batch 2's write
      // cannot make store/batch_id=2 (a file AT store/batch_id=2 would
      // not do — an overwrite deletes whatever stands at its own path)
      Files.move(Paths.get(s"$root/store"), Paths.get(s"$root/store-aside"))
      Files.createFile(Paths.get(s"$root/store"))
      stageQuote(root, 3)
      intercept[StreamingQueryException](q1.processAllAvailable())
    } finally q1.stop()
    // the write's own error, not a future's wrapper around it
    assert(err.getCause.isInstanceOf[org.apache.hadoop.fs.ParentNotDirectoryException] &&
      err.getCause.getMessage.contains(s"$root/store"), err)
    SparkInternals.flushListenerBus(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still running: ${spark.sparkContext.statusTracker.getActiveJobIds.mkString(", ")}")
    // mend the store and restart on the same checkpoint: batch 2 replays
    Files.delete(Paths.get(s"$root/store"))
    Files.move(Paths.get(s"$root/store-aside"), Paths.get(s"$root/store"))
    val q2 = startQuotes(root)
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.recentProgress.map(_.batchId).contains(2L))
    (0 to 2).foreach { b =>
      assert(rows(s"$root/store/batch_id=$b") == rows(s"$ref/store/batch_id=$b"), s"store batch $b")
    }
    assert(rows(s"$root/snap/batch_id=2") == rows(s"$ref/snap/batch_id=2"))
  }

  test("every job of a quote tick, the pooled-thread store write included, " +
    "carries the query's job group, and a stop mid-tick leaves no job running") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    import org.apache.spark.graft.SparkInternals
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val started = new AtomicReference(new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
        started.get.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      // two queries in turn: a pooled thread kept from the first must
      // not lend the first query's group to the second's store write
      (1 to 2).foreach { i =>
        val root = Files.createTempDirectory(s"graft_qgroup$i").toString
        stageQuote(root, 1)
        val q = startQuotes(root)
        try {
          q.processAllAvailable()
          SparkInternals.flushListenerBus(sc)
          groups.clear()
          stageQuote(root, 2); q.processAllAvailable()
          SparkInternals.flushListenerBus(sc)
          val tick = groups.asScala.toSeq
          // the tick wrote its store partition, so its job is among these
          assert(Files.isDirectory(Paths.get(s"$root/store/batch_id=1")))
          assert(tick.nonEmpty && tick.forall(_ == q.runId.toString),
            s"query ${q.runId}: job groups $tick")
        } finally q.stop()
      }
      val root = Files.createTempDirectory("graft_qstop").toString
      stageQuote(root, 1)
      val q = startQuotes(root)
      try {
        q.processAllAvailable()
        started.set(new CountDownLatch(1))
        stageQuote(root, 2)
        assert(started.get.await(60, TimeUnit.SECONDS), "the tick started no job")
      } finally q.stop()
      SparkInternals.flushListenerBus(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        s"jobs still running after stop: ${sc.statusTracker.getActiveJobIds.mkString(", ")}")
    } finally sc.removeSparkListener(listener)
  }

  test("a quote tick starts no child process from Hadoop's Shell: no " +
    "chmod per file or directory, no readlink per checkpoint-log rename") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_qforks").toString
    def stage(t: Int): Unit =
      Graft.stageTick(spark, () => s"""[{"symbol":"BTC","name":"Bitcoin",
        |"current_price":$t.0,"market_cap":9.0}]""".stripMargin,
        s"$root/ticks", Timestamp.valueOf(f"2024-03-01 00:00:$t%02d")): Unit
    stage(1)
    val q = Graft.startQuoteStream(spark, s"$root/ticks", s"$root/store",
      s"$root/ckpt", s"$root/snap", Trigger.ProcessingTime(0))((_, _) => ())
    val jfr = Files.createTempFile("graft_qforks", ".jfr")
    try {
      q.processAllAvailable()
      val rec = new Recording()
      try {
        rec.enable("jdk.ProcessStart").withStackTrace()
        rec.start()
        stage(2); q.processAllAvailable()
        rec.stop()
        rec.dump(jfr)
      } finally rec.close()
      // Filtered on the frame, not the thread: Spark's Cleaner thread
      // may fork an `rm -rf` of its own, which is not the tick's.
      val forks = RecordingFile.readAllEvents(jfr).asScala.collect {
        case e if e.getEventType.getName == "jdk.ProcessStart" && e.getStackTrace != null &&
            e.getStackTrace.getFrames.asScala
              .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell") =>
          e.getString("command")
      }
      assert(forks.isEmpty, s"${forks.size} Hadoop forks in one tick")
    } finally {
      q.stop()
      Files.deleteIfExists(jfr)
      graft.Fs.deleteRecursively(new java.io.File(root))
    }
  }

  test("merge stream accepts a MAP-typed data column: excluded from the " +
    "tie-break (window ORDER BY on a map throws), carried through the merge") {
    implicit val sqlCtx = spark.sqlContext
    val snapDir = Files.createTempDirectory("graft_mmap_snap").toString + "/snap"
    val ckpt = Files.createTempDirectory("graft_mmap_ckpt").toString
    val mem = MemoryStream[ChMap]
    val ts = (s: Int) => Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val snaps = scala.collection.mutable.ArrayBuffer
      .empty[Map[Long, (Double, Map[String, String])]]
    val q = Streams.startMergeStream(spark, mem.toDF(), "user_id",
        ordCols = Seq("ts"), deleteCol = "del", snapDir, ckpt,
        Trigger.ProcessingTime(0)) { (snap, _) =>
      snaps += snap.select("user_id", "value", "props")
        .as[(Long, Double, Map[String, String])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    }
    // insert with props, same-batch last-wins by ts, then an update
    // whose winning row's map must survive into the snapshot
    mem.addData(
      ChMap(1L, ts(0), 1.0, Map("src" -> "a"), del = false),
      ChMap(1L, ts(1), 2.0, Map("src" -> "b"), del = false),
      ChMap(2L, ts(0), 5.0, Map.empty, del = false))
    q.processAllAvailable()
    mem.addData(ChMap(2L, ts(2), 0.0, Map.empty, del = true))
    q.processAllAvailable()
    q.stop()
    assert(snaps.toSeq == Seq(
      Map(1L -> (2.0, Map("src" -> "b")), 2L -> (5.0, Map.empty[String, String])),
      Map(1L -> (2.0, Map("src" -> "b")))))
  }

  test("merge stream resolves ordCols ties deterministically: a " +
    "same-instant delete+upsert deletes (tombstone-first)") {
    implicit val sqlCtx = spark.sqlContext
    val snapDir = Files.createTempDirectory("graft_mtie_snap").toString + "/snap"
    val ckpt = Files.createTempDirectory("graft_mtie_ckpt").toString
    val mem = MemoryStream[Ch]
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Double]]
    val q = Streams.startMergeStream(spark, mem.toDF(), "user_id",
        ordCols = Seq("ts"), deleteCol = "del", snapDir, ckpt,
        Trigger.ProcessingTime(0)) { (snap, _) =>
      snaps += snap.select("user_id", "value").as[(Long, Double)].collect().toMap
    }
    // u1: tombstone and upsert at the SAME ts in one batch -> the
    // tombstone wins the tie and the key is absent; u2 anchors the
    // batch so the snapshot is non-degenerate
    mem.addData(Ch(1L, t, 5.0, false), Ch(1L, t, 0.0, true),
      Ch(2L, t, 2.0, false))
    q.processAllAvailable()
    q.stop()
    assert(snaps.last == Map(2L -> 2.0))
  }

  test("streamingTickHealth (transformWithState) == batch q_tick_health " +
    "window form on in-order delivery, across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      def er(id: Long, minute: Int, user: Long, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          user, "tick", v, "{}")
      // user 1's worst move (2.50) and longest gap (3 min) SPAN the
      // batch boundary — the state carry is what's under test; user 2
      // stays single-tick (both maxima None/null)
      val u1 = Seq(er(1, 1, 1, 2.0), er(2, 2, 1, 3.0),
        er(3, 5, 1, 0.5), er(4, 6, 1, 1.0))
      val u2 = Seq(er(100, 1, 2, 9.0))
      val batches = Seq(u1.take(2) ++ u2, u1.drop(2))
      val mem = MemoryStream[EventRow]
      val q = Streams.streamingTickHealth(mem.toDS())
        .writeStream.format("memory").queryName("th_snap")
        .outputMode("update").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val got = spark.table("th_snap")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long])))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      val want = Graft.tickHealth((u1 ++ u2).toDS().toDF(),
          "user_id", "ts", "value", "event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(got == want, s"stream vs batch: $got vs $want")
      assert(got.exists { case (u, _, move, gap) =>
        u == 1L && move.contains(250L) && gap.contains(180000000L) })
      assert(got.exists { case (u, _, move, gap) =>
        u == 2L && move.isEmpty && gap.isEmpty })
    }
  }

  test("streamingRealizedVol (transformWithState) == batch q_realized_vol " +
    "bit-for-bit, across batch boundaries; single-tick key unscored") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      def er(id: Long, minute: Int, user: Long, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          user, "tick", v, "{}")
      // user 1's second move spans the batch boundary; user 2 single-tick
      val u1 = Seq(er(1, 1, 1, 1.0), er(2, 2, 1, 4.0), er(3, 3, 1, 0.0))
      val u2 = Seq(er(100, 1, 2, 9.0))
      val mem = MemoryStream[EventRow]
      val q = Streams.streamingRealizedVol(mem.toDS())
        .writeStream.format("memory").queryName("rv_snap")
        .outputMode("update").start()
      Seq(u1.take(2) ++ u2, u1.drop(2)).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
      q.stop()
      def canon(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
      val got = canon(spark.table("rv_snap").collect())
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      val want = canon(Graft.realizedVol((u1 ++ u2).toDS().toDF(),
        "user_id", "ts", "value", "event_id").collect()).toSet
      assert(got == want, s"stream vs batch: $got vs $want")
      // moves +300, -400 -> sqrt(250000/2)/100, exactly the batch double
      assert(got.exists { case (u, _, m, sq, vol) => u == 1L && m == 2L &&
        sq.contains(250000L) && vol.contains(math.sqrt(125000.0) / 100.0) })
      assert(got.exists { case (u, _, m, sq, vol) => u == 2L && m == 0L &&
        sq.isEmpty && vol.isEmpty })
    }
  }

  test("streamingBestTrade (transformWithState) == batch q_best_trade, the " +
    "trough-then-peak spanning a batch boundary") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      def er(id: Long, minute: Int, user: Long, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          user, "tick", v, "{}")
      // trough (2.00) arrives in batch 1, the 6.00 peak in batch 2 —
      // the remembered prefix-min is what's under test; the later 1.00
      // trough must NOT pair with the earlier peak
      val u1 = Seq(er(1, 1, 1, 5.0), er(2, 2, 1, 2.0),
        er(3, 3, 1, 6.0), er(4, 4, 1, 1.0), er(5, 5, 1, 3.0))
      val mem = MemoryStream[EventRow]
      val q = Streams.streamingBestTrade(mem.toDS())
        .writeStream.format("memory").queryName("bt_snap")
        .outputMode("update").start()
      Seq(u1.take(2), u1.drop(2)).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("bt_snap")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      val want = Graft.bestTrade(u1.toDS().toDF(),
        "user_id", "ts", "value", "event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"stream vs batch: $got vs $want")
      assert(got == Set((1L, 5L, 400L)))
    }
  }

  test("streamingBollinger (transformWithState) == batch q_bollinger " +
    "bit-for-bit, the prior window spanning a batch boundary") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      def er(id: Long, minute: Int, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          1L, "tick", v, "{}")
      // 5 near-flat ticks + a crash + a spike; the crash's prior window
      // is split 3/2 across the batch boundary
      val ticks = Seq(er(1, 1, 2.0), er(2, 2, 2.1), er(3, 3, 1.9),
        er(4, 4, 2.0), er(5, 5, 2.0), er(6, 6, 0.5), er(7, 7, 9.0))
      val mem = MemoryStream[EventRow]
      val q = Streams.streamingBollinger(mem.toDS())
        .writeStream.format("memory").queryName("boll_snap")
        .outputMode("append").start()
      Seq(ticks.take(3), ticks.drop(3)).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
      q.stop()
      def canon(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getBoolean(5), r.getBoolean(6))).toSet
      val got = canon(spark.table("boll_snap")
        .select("user_id", "event_id", "value", "mid", "band",
          "breakout_up", "breakout_dn").collect())
      val want = canon(Graft.bollinger(ticks.toDS().toDF(),
        "user_id", "ts", "value", "event_id")
        .select(lit(1L).as("u"), col("event_id"), col("value"), col("mid"),
          col("band"), col("breakout_up"), col("breakout_dn")).collect())
      assert(got == want, s"stream vs batch: $got vs $want")
      assert(got.exists { case (id, _, _, _, up, dn) => id == 6L && !up && dn })
      assert(got.exists { case (id, _, _, _, up, dn) => id == 7L && up && !dn })
    }
  }

  test("streamingAdx == batch q_adx bit-for-bit, the bar series split " +
    "across micro-batches (incl. the DX and ADX warm-up boundaries)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.OhlcBarRow
    withRocks {
      // 10 OHLC day bars with direction reversals (h >= c >= l so a
      // three-tick day reproduces the bar exactly: high, low, close)
      val bars = Seq( // (close, high, low) cents
        (1000L, 1050L, 980L), (1100L, 1120L, 990L), (1050L, 1130L, 1040L),
        (1200L, 1210L, 1000L), (1150L, 1260L, 1100L), (1080L, 1160L, 1020L),
        (1220L, 1230L, 1060L), (1310L, 1340L, 1200L), (1260L, 1330L, 1220L),
        (1380L, 1400L, 1250L))
      val rows = bars.zipWithIndex.map { case ((c, h, l), i) =>
        OhlcBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c, h, l) }
      val mem = MemoryStream[OhlcBarRow]
      val q = Streams.streamingAdx(mem.toDS())
        .writeStream.format("memory").queryName("adx_snap")
        .outputMode("append").start()
      // split 3/4/3 — the DX seed (bar 4) and ADX seed (bar 6) land on
      // and inside batch 2
      Seq(rows.take(3), rows.slice(3, 7), rows.drop(7)).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("adx_snap")
        .select("day", "di_plus", "di_minus", "dx", "adx")
        .collect().map(r => (r.getDate(0).toString,
          (1 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i)))))
        .sortBy(_._1).toSeq
      // the batch form over three-tick days: high first, low second,
      // close last (so last_value = close, max = high, min = low)
      val ticks = bars.zipWithIndex.flatMap { case ((c, h, l), i) =>
        Seq((1L, h.toDouble / 100.0, i * 10L + 1, f"2024-01-${i + 1}%02d 09:00:00"),
          (1L, l.toDouble / 100.0, i * 10L + 2, f"2024-01-${i + 1}%02d 12:00:00"),
          (1L, c.toDouble / 100.0, i * 10L + 3, f"2024-01-${i + 1}%02d 15:00:00"))
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val want = Graft.adx(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "di_plus", "di_minus", "dx", "adx")
        .collect().map(r => (r.getDate(0).toString,
          (1 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i)))))
        .sortBy(_._1).toSeq
      assert(got === want, "adx stream vs batch")
      // boundary sanity: DX first defined at bar 4, ADX at bar 6
      assert(got.take(3).forall(_._2(2).isEmpty))
      assert(got(3)._2(2).isDefined && got(4)._2(3).isEmpty && got(5)._2(3).isDefined)
    }
  }

  test("streamingTsi / streamingSupertrend == batch recurrences bit-for-bit " +
    "across micro-batch splits (incl. the supertrend band seed boundary)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{BarRow, OhlcBarRow}
    withRocks {
      val bars = Seq( // (close, high, low) cents, with reversals
        (1000L, 1050L, 980L), (1100L, 1120L, 990L), (1050L, 1130L, 1040L),
        (1200L, 1210L, 1000L), (1150L, 1260L, 1100L), (1080L, 1160L, 1020L),
        (1220L, 1230L, 1060L), (1310L, 1340L, 1200L), (1260L, 1330L, 1220L),
        (1380L, 1400L, 1250L))
      val tsiRows = bars.zipWithIndex.map { case ((c, _, _), i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val stRows = bars.zipWithIndex.map { case ((c, h, l), i) =>
        OhlcBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c, h, l) }
      val memT = MemoryStream[BarRow]
      val qt = Streams.streamingTsi(memT.toDS())
        .writeStream.format("memory").queryName("tsi_snap")
        .outputMode("append").start()
      val memS = MemoryStream[OhlcBarRow]
      val qs = Streams.streamingSupertrend(memS.toDS())
        .writeStream.format("memory").queryName("st_snap")
        .outputMode("append").start()
      // split 2/5/3 — the ATR/band seed (bar 3) lands at a batch head
      Seq(0 until 2, 2 until 7, 7 until 10).foreach { rg =>
        memT.addData(rg.map(tsiRows): _*); qt.processAllAvailable()
        memS.addData(rg.map(stRows): _*); qs.processAllAvailable()
      }
      qt.stop(); qs.stop()
      val ticks = bars.zipWithIndex.flatMap { case ((c, h, l), i) =>
        Seq((1L, h.toDouble / 100.0, i * 10L + 1, f"2024-01-${i + 1}%02d 09:00:00"),
          (1L, l.toDouble / 100.0, i * 10L + 2, f"2024-01-${i + 1}%02d 12:00:00"),
          (1L, c.toDouble / 100.0, i * 10L + 3, f"2024-01-${i + 1}%02d 15:00:00"))
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val gotT = spark.table("tsi_snap").select("day", "tsi")
        .collect().map(r => (r.getDate(0).toString,
          if (r.isNullAt(1)) None else Some(r.getDouble(1)))).sortBy(_._1).toSeq
      val wantT = Graft.tsi(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "tsi")
        .collect().map(r => (r.getDate(0).toString,
          if (r.isNullAt(1)) None else Some(r.getDouble(1)))).sortBy(_._1).toSeq
      assert(gotT === wantT, "tsi stream vs batch")
      // batch supertrend drops warm-up rows; align by filtering the stream
      val gotS = spark.table("st_snap").filter(col("atr").isNotNull)
        .select("day", "atr", "band_upper", "band_lower", "trend", "supertrend")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getString(4), r.getDouble(5)))
        .sortBy(_._1).toSeq
      val wantS = Graft.supertrend(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "atr", "band_upper", "band_lower", "trend", "supertrend")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getString(4), r.getDouble(5)))
        .sortBy(_._1).toSeq
      assert(gotS === wantS, "supertrend stream vs batch")
      assert(gotS.nonEmpty && gotS.size === 8) // 10 bars - 2 warm-up
    }
  }

  test("streamingWma == batch window query bit-for-bit across micro-batch " +
    "splits (the ring fill crosses a batch boundary)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BarRow
    withRocks {
      val closes = Seq(1000L, 1040L, 990L, 1100L, 1075L, 1120L, 1060L,
        1145L, 1130L, 1190L, 1170L, 1210L, 1180L, 1240L)
      val rows = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val mem = MemoryStream[BarRow]
      val q = Streams.streamingWma(mem.toDS())
        .writeStream.format("memory").queryName("wma_snap")
        .outputMode("append").start()
      val memI = MemoryStream[BarRow]
      val qi = Streams.streamingElderImpulse(memI.toDS())
        .writeStream.format("memory").queryName("impulse_snap")
        .outputMode("append").start()
      // split 6/5/3 — the ring fills (bar 10) inside the SECOND batch
      Seq(0 until 6, 6 until 11, 11 until 14).foreach { rg =>
        mem.addData(rg.map(rows): _*); q.processAllAvailable()
        memI.addData(rg.map(rows): _*); qi.processAllAvailable()
      }
      q.stop(); qi.stop()
      val ticks = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i.toLong + 1, f"2024-01-${i + 1}%02d 12:00:00")
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val got = spark.table("wma_snap").filter(col("wma").isNotNull)
        .select("day", "wma")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
        .sortBy(_._1).toSeq
      val want = Graft.wma(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "wma")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
        .sortBy(_._1).toSeq
      assert(got === want, "wma stream vs batch")
      assert(got.size === 5) // 14 bars − 9 warm-up
      val gotI = spark.table("impulse_snap").select("day", "impulse")
        .collect().map(r => (r.getDate(0).toString, r.getString(1)))
        .sortBy(_._1).toSeq
      val wantI = Graft.elderImpulse(ticks, "user_id", "ts", "value",
          "event_id")
        .select("day", "impulse")
        .collect().map(r => (r.getDate(0).toString, r.getString(1)))
        .sortBy(_._1).toSeq
      assert(gotI === wantI, "impulse stream vs batch")
      assert(gotI.map(_._2).distinct.size > 1, "fixture exercises classes")
    }
  }

  test("streamingConnorsRsi / streamingStreak == batch bit-for-bit across " +
    "micro-batch splits (the 100-return ring fill crosses a boundary)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BarRow
    withRocks {
      // 103 bars: alternating moves, then a spike — pct_rank scores on
      // the last two bars only (the ring fills at bar 101)
      val closes = (0 until 102).map(i =>
        if (i % 2 == 0) 10000L + (i % 7) * 3 else 10010L + (i % 5) * 2) :+ 20000L
      val rows = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, 1).plusDays(i), c) }
      val memC = MemoryStream[BarRow]
      val qc = Streams.streamingConnorsRsi(memC.toDS())
        .writeStream.format("memory").queryName("crsi_snap")
        .outputMode("append").start()
      val memS = MemoryStream[BarRow]
      val qs = Streams.streamingStreak(memS.toDS())
        .writeStream.format("memory").queryName("streak_snap")
        .outputMode("append").start()
      // splits: warm-up / bulk (ring fills at idx 100 inside batch 2) / tail
      Seq(0 until 10, 10 until 101, 101 until 103).foreach { rg =>
        memC.addData(rg.map(rows): _*); qc.processAllAvailable()
        memS.addData(rg.map(rows): _*); qs.processAllAvailable()
      }
      qc.stop(); qs.stop()
      val ticks = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i.toLong + 1,
          java.time.LocalDate.of(2024, 1, 1).plusDays(i).toString + " 12:00:00")
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      def roundtrip(df: org.apache.spark.sql.DataFrame) =
        df.select("day", "streak", "rsi3", "rsi2_streak", "pct_rank", "crsi")
          .collect().map { r =>
            def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
            (r.getDate(0).toString, r.getLong(1), opt(2), opt(3), opt(4), opt(5))
          }.sortBy(_._1).toSeq
      val gotC = roundtrip(spark.table("crsi_snap"))
      val wantC = roundtrip(
        Graft.connorsRsi(ticks, "user_id", "ts", "value", "event_id"))
      assert(gotC === wantC, "connors stream vs batch")
      assert(gotC.size === 103)
      assert(gotC.count(_._5.nonEmpty) === 2, "ring fires on the last two bars")
      assert(gotC.last._6.nonEmpty, "composite fires on the spike bar")
      val gotS = spark.table("streak_snap").select("day", "streak")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
        .sortBy(_._1).toSeq
      val wantS = Graft.streak(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "streak")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
        .sortBy(_._1).toSeq
      assert(gotS === wantS, "streak stream vs batch")
    }
  }

  test("streamingConnorsRsi: the composite state (both Wilder states + " +
    "the 100-return ring) survives a RocksDB checkpoint stop/restart — " +
    "post-restart output still equals batch bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BarRow
    withRocks {
      val ckpt = Files.createTempDirectory("graft_crsi_ckpt").toString
      val closes = (0 until 102).map(i =>
        if (i % 2 == 0) 10000L + (i % 7) * 3 else 10010L + (i % 5) * 2) :+ 20000L
      val rows = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, 1).plusDays(i), c) }
      val mem = MemoryStream[BarRow]
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Option[Double], Option[Double])]
      def run(): org.apache.spark.sql.streaming.StreamingQuery =
        Streams.streamingConnorsRsi(mem.toDS())
          .writeStream.option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.CrsiScored],
             _: Long) =>
              b.toDF().select("day", "streak", "pct_rank", "crsi")
                .collect().foreach { r =>
                  def opt(i: Int) =
                    if (r.isNullAt(i)) None else Some(r.getDouble(i))
                  got += ((r.getDate(0).toString, r.getLong(1), opt(2), opt(3)))
                }: Unit
          }.start()
      // the restart lands at bar 95 — the ring holds ~94 returns and
      // MUST come back from RocksDB for bars 101-102 to score
      val q1 = run()
      Seq(0 until 50, 50 until 95).foreach { rg =>
        mem.addData(rg.map(rows): _*); q1.processAllAvailable()
      }
      q1.stop()
      val q2 = run()
      mem.addData((95 until 103).map(rows): _*); q2.processAllAvailable()
      q2.stop()
      val ticks = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i.toLong + 1,
          java.time.LocalDate.of(2024, 1, 1).plusDays(i).toString + " 12:00:00")
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val want = Graft.connorsRsi(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "streak", "pct_rank", "crsi")
        .collect().map { r =>
          def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
          (r.getDate(0).toString, r.getLong(1), opt(2), opt(3))
        }.sortBy(_._1).toSeq
      assert(got.sortBy(_._1).toSeq === want, "restarted stream vs batch")
      assert(got.count(_._4.nonEmpty) === 2,
        "the ring-scored bars land AFTER the restart")
    }
  }

  test("streamingPsar == batch recurrence bit-for-bit across micro-batch " +
    "splits (a regime reversal lands at a batch boundary)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.OhlcBarRow
    withRocks {
      val bars = Seq( // (close, high, low) cents: uptrend, crash, recovery
        (1000L, 1050L, 980L), (1100L, 1120L, 1060L), (1180L, 1200L, 1150L),
        (1250L, 1270L, 1210L), (900L, 950L, 880L), (850L, 890L, 820L),
        (870L, 900L, 840L), (1100L, 1150L, 1050L), (1200L, 1240L, 1160L),
        (1300L, 1330L, 1250L))
      val rows = bars.zipWithIndex.map { case ((c, h, l), i) =>
        OhlcBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c, h, l) }
      val mem = MemoryStream[OhlcBarRow]
      val q = Streams.streamingPsar(mem.toDS())
        .writeStream.format("memory").queryName("psar_snap")
        .outputMode("append").start()
      // split 4/3/3 — the crash bar (idx 4) heads the second batch
      Seq(0 until 4, 4 until 7, 7 until 10).foreach { rg =>
        mem.addData(rg.map(rows): _*); q.processAllAvailable()
      }
      q.stop()
      val ticks = bars.zipWithIndex.flatMap { case ((c, h, l), i) =>
        Seq((1L, h.toDouble / 100.0, i * 10L + 1, f"2024-01-${i + 1}%02d 09:00:00"),
          (1L, l.toDouble / 100.0, i * 10L + 2, f"2024-01-${i + 1}%02d 12:00:00"),
          (1L, c.toDouble / 100.0, i * 10L + 3, f"2024-01-${i + 1}%02d 15:00:00"))
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val got = spark.table("psar_snap").select("day", "psar", "is_up")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getBoolean(2))).sortBy(_._1).toSeq
      val want = Graft.psar(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "psar", "is_up")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getBoolean(2))).sortBy(_._1).toSeq
      assert(got === want, "psar stream vs batch")
      assert(got.size === 10)
      // the fixture really exercises both regimes
      assert(got.exists(_._3) && got.exists(!_._3))
    }
  }

  test("streamingHeikinAshi == batch recurrence bit-for-bit across " +
    "micro-batch splits (the open-carrying bar stream)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ohlc4BarRow
    withRocks {
      val bars = Seq( // (o, h, l, c) cents
        (1000L, 1060L, 950L, 1040L), (1040L, 1100L, 1000L, 1020L),
        (1020L, 1150L, 1010L, 1140L), (1140L, 1160L, 1050L, 1060L),
        (1060L, 1120L, 1040L, 1100L), (1100L, 1300L, 1090L, 1280L),
        (1280L, 1310L, 1150L, 1170L))
      val rows = bars.zipWithIndex.map { case ((o, h, l, c), i) =>
        Ohlc4BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), o, h, l, c) }
      val mem = MemoryStream[Ohlc4BarRow]
      val q = Streams.streamingHeikinAshi(mem.toDS())
        .writeStream.format("memory").queryName("ha_snap")
        .outputMode("append").start()
      // split 1/4/2 — the seed bar rides alone in the first batch
      Seq(0 until 1, 1 until 5, 5 until 7).foreach { rg =>
        mem.addData(rg.map(rows): _*); q.processAllAvailable()
      }
      q.stop()
      val tick = bars.zipWithIndex.flatMap { case ((o, h, l, c), i) =>
        Seq((1L, o.toDouble / 100.0, i * 10L + 1, f"2024-01-${i + 1}%02d 09:00:00"),
          (1L, h.toDouble / 100.0, i * 10L + 2, f"2024-01-${i + 1}%02d 10:00:00"),
          (1L, l.toDouble / 100.0, i * 10L + 3, f"2024-01-${i + 1}%02d 12:00:00"),
          (1L, c.toDouble / 100.0, i * 10L + 4, f"2024-01-${i + 1}%02d 15:00:00"))
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val cols = Seq("ha_open", "ha_high", "ha_low", "ha_close")
      val got = spark.table("ha_snap")
        .select("day", cols: _*)
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
      val want = Graft.heikinAshi(tick, "user_id", "ts", "value", "event_id")
        .select("day", cols: _*)
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
      assert(got === want, "heikin-ashi stream vs batch")
      assert(got.size === 7)
    }
  }

  test("streamingForceIndex / streamingChaikinOsc == batch volume-flow " +
    "recurrences bit-for-bit across micro-batch splits (incl. a doji bar)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.VolBarRow
    withRocks {
      val bars = Seq( // (h, l, c, vol) cents; bar 4 is a doji (h == l)
        (1060L, 950L, 1040L, 10L), (1100L, 1000L, 1020L, 25L),
        (1150L, 1010L, 1140L, 7L), (1100L, 1100L, 1100L, 12L),
        (1120L, 1040L, 1100L, 31L), (1300L, 1090L, 1280L, 4L),
        (1310L, 1150L, 1170L, 18L))
      val rows = bars.zipWithIndex.map { case ((h, l, c, v), i) =>
        VolBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), h, l, c, v) }
      val memF = MemoryStream[VolBarRow]
      val qf = Streams.streamingForceIndex(memF.toDS())
        .writeStream.format("memory").queryName("fi_snap")
        .outputMode("append").start()
      val memA = MemoryStream[VolBarRow]
      val qa = Streams.streamingChaikinOsc(memA.toDS())
        .writeStream.format("memory").queryName("adl_snap")
        .outputMode("append").start()
      // split 1/4/2 — the seed bar rides alone in the first batch
      Seq(0 until 1, 1 until 5, 5 until 7).foreach { rg =>
        memF.addData(rg.map(rows): _*); qf.processAllAvailable()
        memA.addData(rg.map(rows): _*); qa.processAllAvailable()
      }
      qf.stop(); qa.stop()
      // equivalent ticks: h@10, l@12, c@15 per day; the day's volume is
      // the JSON-k sum across all three ticks
      val tick = bars.zipWithIndex.flatMap { case ((h, l, c, v), i) =>
        Seq((1L, h.toDouble / 100.0, i * 10L + 1, f"2024-01-${i + 1}%02d 10:00:00", v - 2),
          (1L, l.toDouble / 100.0, i * 10L + 2, f"2024-01-${i + 1}%02d 12:00:00", 1L),
          (1L, c.toDouble / 100.0, i * 10L + 3, f"2024-01-${i + 1}%02d 15:00:00", 1L))
      }.toDF("user_id", "value", "event_id", "at", "k")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
        .withColumn("props", concat(lit("{\"k\":"), col("k"), lit("}")))
        .drop("k")
      // force index: the batch form drops the seed bar — align on fi_raw
      val gotF = spark.table("fi_snap").filter(col("fi_raw").isNotNull)
        .select("day", "fi_raw", "fi_ema13")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getDouble(2))).sortBy(_._1).toSeq
      val wantF = Graft.forceIndex(tick, "user_id", "ts", "value", "event_id")
        .select("day", "fi_raw", "fi_ema13")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getDouble(2))).sortBy(_._1).toSeq
      assert(gotF === wantF, "force index stream vs batch")
      assert(gotF.size === 6)
      val gotA = spark.table("adl_snap")
        .select("day", "adl_q", "adl", "chaikin_osc")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
      val wantA = Graft.adlChaikin(tick, "user_id", "ts", "value", "event_id")
        .select("day", "adl_q", "adl", "chaikin_osc")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
      assert(gotA === wantA, "adl/chaikin stream vs batch")
      assert(gotA.size === 7)
      // the doji bar contributed exactly zero flow: its adl_q equals the
      // previous bar's
      assert(gotA(3)._2 === gotA(2)._2)
    }
  }

  test("streamingMassIndex == batch q_mass_index bit-for-bit across a " +
    "CHECKPOINTED RESTART landing mid-ring (the O(w) ratio ring must " +
    "survive in the state store)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.OhlcBarRow
    withRocks {
      // 11 day bars: (high, low, close) cents with doji (h==l) included
      val bars = Seq(
        (1100L, 1000L, 1050L), (1200L, 1080L, 1090L), (1150L, 1150L, 1150L),
        (1300L, 1100L, 1270L), (1280L, 1210L, 1220L), (1350L, 1190L, 1340L),
        (1360L, 1290L, 1300L), (1400L, 1250L, 1390L), (1380L, 1310L, 1330L),
        (1500L, 1280L, 1460L), (1470L, 1400L, 1410L))
      val rows = bars.zipWithIndex.map { case ((h, l, c), i) =>
        OhlcBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c, h, l) }
      val ckpt = Files.createTempDirectory("graft_mass_ckpt").toString
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Double)]
      val mem = MemoryStream[OhlcBarRow]
      def run(): org.apache.spark.sql.streaming.StreamingQuery =
        Streams.streamingMassIndex(mem.toDS())
          .writeStream.option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.MassScored],
             _: Long) =>
              b.collect().foreach(m => got += ((m.day.toString,
                m.close_cents, m.sum_ratio_q, m.mass_index))): Unit
          }.start()
      // restart after day 5 — the ring holds 5 of 7 quanta, no row
      // emitted yet; a lost ring would shift every post-restart window
      val q1 = run()
      mem.addData(rows.take(5): _*); q1.processAllAvailable(); q1.stop()
      assert(got.isEmpty, "no full window before day 7")
      val q2 = run()
      mem.addData(rows.drop(5): _*); q2.processAllAvailable(); q2.stop()
      // batch twin over two ticks per day (high then low/close order so
      // the day bar reproduces (h, l, c) exactly: open=h, close=c)
      val tick = bars.zipWithIndex.flatMap { case ((h, l, c), i) =>
        Seq((1L, h.toDouble / 100.0, i * 10L + 1, f"2024-01-${i + 1}%02d 10:00:00"),
          (1L, l.toDouble / 100.0, i * 10L + 2, f"2024-01-${i + 1}%02d 12:00:00"),
          (1L, c.toDouble / 100.0, i * 10L + 3, f"2024-01-${i + 1}%02d 15:00:00"))
      }.toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val want = Graft.massIndex(tick, "user_id", "ts", "value", "event_id")
        .select("day", "close_cents", "sum_ratio_q", "mass_index")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
      assert(got.sortBy(_._1).toSeq === want, "mass-index stream vs batch")
      assert(want.size === bars.size - graft.queries.Breadth28.MassW + 1)
    }
  }

  test("streamingNviPvi / streamingTrix / streamingKama == batch " +
    "recurrences bit-for-bit across micro-batch splits (incl. the KAMA " +
    "warm-up boundary and a volume tie)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{BarRow, VolBarRow}
    withRocks {
      val bars = Seq( // (close, vol) — vol down/up/tie transitions included
        (1000L, 10L), (1100L, 5L), (1210L, 20L), (1100L, 20L),
        (1155L, 8L), (1270L, 30L), (1200L, 2L), (1320L, 2L), (1250L, 40L))
      val volRows = bars.zipWithIndex.map { case ((c, v), i) =>
        VolBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c, c, c, v) }
      val barRows = bars.zipWithIndex.map { case ((c, _), i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val memN = MemoryStream[VolBarRow]
      val qn = Streams.streamingNviPvi(memN.toDS())
        .writeStream.format("memory").queryName("nvi_snap")
        .outputMode("append").start()
      val memT = MemoryStream[BarRow]
      val qt = Streams.streamingTrix(memT.toDS())
        .writeStream.format("memory").queryName("trix_snap")
        .outputMode("append").start()
      val memK = MemoryStream[BarRow]
      val qk = Streams.streamingKama(memK.toDS())
        .writeStream.format("memory").queryName("kama_snap")
        .outputMode("append").start()
      val memD = MemoryStream[BarRow]
      val qd = Streams.streamingDema(memD.toDS())
        .writeStream.format("memory").queryName("dema_snap")
        .outputMode("append").start()
      val memP = MemoryStream[BarRow]
      val qp = Streams.streamingPpo(memP.toDS())
        .writeStream.format("memory").queryName("ppo_snap")
        .outputMode("append").start()
      val ohlcRows = bars.zipWithIndex.map { case ((c, _), i) =>
        graft.streaming.OhlcBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1),
          c, c, c) }
      val memE = MemoryStream[graft.streaming.OhlcBarRow]
      val qe = Streams.streamingElderRay(memE.toDS())
        .writeStream.format("memory").queryName("elder_snap")
        .outputMode("append").start()
      // split 2/4/3 — the KAMA seed (bar 6) lands mid-batch, the ring
      // carries across the second boundary
      Seq(0 until 2, 2 until 6, 6 until 9).foreach { rg =>
        memN.addData(rg.map(volRows): _*); qn.processAllAvailable()
        memT.addData(rg.map(barRows): _*); qt.processAllAvailable()
        memK.addData(rg.map(barRows): _*); qk.processAllAvailable()
        memD.addData(rg.map(barRows): _*); qd.processAllAvailable()
        memP.addData(rg.map(barRows): _*); qp.processAllAvailable()
        memE.addData(rg.map(ohlcRows): _*); qe.processAllAvailable()
      }
      qn.stop(); qt.stop(); qk.stop(); qd.stop(); qp.stop(); qe.stop()
      val tick = bars.zipWithIndex.map { case ((c, v), i) =>
        (1L, c.toDouble / 100.0, i * 10L + 1, f"2024-01-${i + 1}%02d 15:00:00", v)
      }.toDF("user_id", "value", "event_id", "at", "k")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
        .withColumn("props", concat(lit("{\"k\":"), col("k"), lit("}")))
        .drop("k")
      val gotN = spark.table("nvi_snap").select("day", "nvi", "pvi")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2))).sortBy(_._1).toSeq
      val wantN = Graft.nviPvi(tick, "user_id", "ts", "value", "event_id")
        .select("day", "nvi", "pvi")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2))).sortBy(_._1).toSeq
      assert(gotN === wantN, "nvi/pvi stream vs batch")
      val gotT = spark.table("trix_snap").select("day", "e3", "trix")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
      val wantT = Graft.trix(tick, "user_id", "ts", "value", "event_id")
        .select("day", "e3", "trix")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
      assert(gotT === wantT, "trix stream vs batch")
      // batch kama drops warm-up rows; align by filtering the stream
      val gotK = spark.table("kama_snap").filter(col("kama").isNotNull)
        .select("day", "kama")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
        .sortBy(_._1).toSeq
      val wantK = Graft.kama(tick, "user_id", "ts", "value", "event_id")
        .select("day", "kama")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
        .sortBy(_._1).toSeq
      assert(gotK === wantK, "kama stream vs batch")
      assert(gotK.size === 4) // 9 bars, w = 5 -> seeds at bar 6
      val gotD = spark.table("dema_snap").select("day", "dema")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
        .sortBy(_._1).toSeq
      val wantD = Graft.dema(tick, "user_id", "ts", "value", "event_id")
        .select("day", "dema")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
        .sortBy(_._1).toSeq
      assert(gotD === wantD, "dema stream vs batch")
      assert(gotD.size === 9)
      val gotP = spark.table("ppo_snap").select("day", "ppo")
        .collect().map(r => (r.getDate(0).toString,
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sortBy(_._1).toSeq
      val wantP = Graft.ppo(tick, "user_id", "ts", "value", "event_id")
        .select("day", "ppo")
        .collect().map(r => (r.getDate(0).toString,
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sortBy(_._1).toSeq
      assert(gotP === wantP, "ppo stream vs batch")
      // one tick per day in the fixture → the batch day bars are doji
      // (h = l = c), matching the stream's OhlcBarRow(c, c, c) rows
      val gotE = spark.table("elder_snap")
        .select("day", "ema13", "bull_power", "bear_power")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
      val wantE = Graft.elderRay(tick, "user_id", "ts", "value", "event_id")
        .select("day", "ema13", "bull_power", "bear_power")
        .collect().map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
      assert(gotE === wantE, "elder ray stream vs batch")
    }
  }

  test("streamingEmaMacd / streamingWilderRsi == batch recurrences bit-for-bit, " +
    "the series split across micro-batches (incl. the RSI warm-up boundary)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BarRow
    withRocks {
      // 20 daily bars with sign-alternating moves; cents chosen so the
      // doubles exercise non-terminating binary fractions (the /100, the
      // alpha products) — any operand-order drift between the stream's
      // Scala fold and the batch Column fold shows as a bit mismatch
      val closes = (0 until 20).map(i =>
        1000L + (if (i % 3 == 0) 7L * i else -3L * i))
      val bars = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), c) }
      val memE = MemoryStream[BarRow]
      val qe = Streams.streamingEmaMacd(memE.toDS())
        .writeStream.format("memory").queryName("ema_snap")
        .outputMode("append").start()
      val memW = MemoryStream[BarRow]
      val qw = Streams.streamingWilderRsi(memW.toDS())
        .writeStream.format("memory").queryName("wilder_snap")
        .outputMode("append").start()
      // split 7/8/5 — the RSI seed (14th diff = bar 15) lands mid-batch 3
      Seq(bars.take(7), bars.slice(7, 15), bars.drop(15)).foreach { b =>
        memE.addData(b: _*); qe.processAllAvailable()
        memW.addData(b: _*); qw.processAllAvailable()
      }
      qe.stop(); qw.stop()
      // the same series as ticks (one per day) for the batch forms
      val ticks = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i.toLong, f"2024-01-${i + 1}%02d 12:00:00") }
        .toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val gotEma = spark.table("ema_snap")
        .select("day", "close_cents", "ema20", "macd", "macd_signal", "hist")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq
      val batchEma = Graft.ema(ticks, "user_id", "ts", "value", "event_id")
        .select(col("day"), col("close_cents"), col("ema"))
      val batchMacd = Graft.macd(ticks, "user_id", "ts", "value", "event_id")
        .select(col("day").as("d2"), col("macd"), col("macd_signal"), col("hist"))
      val wantEma = batchEma.join(batchMacd, col("day") === col("d2"))
        .select("day", "close_cents", "ema", "macd", "macd_signal", "hist")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq
      assert(gotEma === wantEma, "ema/macd stream vs batch")
      val gotW = spark.table("wilder_snap")
        .select("day", "close_cents", "rsi_wilder")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
      val wantW = Graft.wilderRsi(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "close_cents", "rsi_wilder")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
      assert(gotW === wantW, "wilder rsi stream vs batch")
      // the warm-up boundary: bars 1..14 unscored, bar 15+ scored
      assert(gotW.take(14).forall(_._3.isEmpty) && gotW.drop(14).forall(_._3.isDefined))
    }
  }

  test("streaming twin state survives a checkpointed stop/restart (best trade: " +
    "the remembered trough pairs with a post-restart peak)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventRow
    withRocks {
      val ckpt = Files.createTempDirectory("graft_bt_ckpt").toString
      def er(id: Long, minute: Int, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-01-01T10:$minute%02d:00"),
          1L, "tick", v, "{}")
      val mem = MemoryStream[EventRow]
      val snaps = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      def run(): org.apache.spark.sql.streaming.StreamingQuery =
        Streams.streamingBestTrade(mem.toDS())
          .toDF("user_id", "n_ticks", "best_trade_cents")
          .writeStream.option("checkpointLocation", ckpt)
          .outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r =>
              snaps(r.getLong(0)) = (r.getLong(1), r.getLong(2))): Unit
          }.start()
      val q1 = run()
      mem.addData(er(1, 1, 5.0), er(2, 2, 2.0)) // trough lands pre-restart
      q1.processAllAvailable(); q1.stop()
      assert(snaps(1L) === ((2L, 0L)), "falling prefix has no profitable trade yet")
      val q2 = run() // RESTART from the checkpoint
      mem.addData(er(3, 3, 6.0)) // peak: profit only if the 2.00 trough survived
      q2.processAllAvailable(); q2.stop()
      assert(snaps(1L) === ((3L, 400L)),
        "lost state would restart the fold and miss the trough->peak pair")
    }
  }

  test("streamingRollSpread / streamingDailySharpe == batch q_roll_spread / " +
    "q_sharpe bit-for-bit, series split across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{BarRow, EventRow}
    withRocks {
      // --- roll spread over ticks: bid-ask bounce with drift ---
      val vals = Seq(9.5, 10.5, 9.6, 10.6, 9.4, 10.5, 9.7, 10.8)
      def er(id: Long, minute: Int, v: Double) =
        EventRow(id, java.time.LocalDateTime.parse(f"2024-03-01T10:$minute%02d:00"),
          1L, "tick", v, "{}")
      val ticks = vals.zipWithIndex.map { case (v, i) => er(i + 1L, i + 1, v) }
      val memR = MemoryStream[EventRow]
      val qr = Streams.streamingRollSpread(memR.toDS())
        .writeStream.format("memory").queryName("roll_snap")
        .outputMode("update").start()
      Seq(ticks.take(3), ticks.slice(3, 6), ticks.drop(6)).foreach { b =>
        memR.addData(b: _*); qr.processAllAvailable()
      }
      qr.stop()
      val gotRoll = spark.table("roll_snap")
        .collect().map(r => (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .maxBy(_._1) // latest snapshot = most pairs
      val tickDf = vals.zipWithIndex.map { case (v, i) =>
        (1L, v, i + 1L, f"2024-03-01 10:${i + 1}%02d:00") }
        .toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val wantRoll = Graft.rollSpread(tickDf, "user_id", "ts", "value", "event_id")
        .collect().map(r => (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).head
      assert(gotRoll === wantRoll, s"roll stream $gotRoll vs batch $wantRoll")
      assert(wantRoll._3.isDefined, "fixture must produce a scored spread")

      // --- daily sharpe over bars ---
      val closes = Seq(1000L, 1110L, 1060L, 1210L, 1150L)
      val bars = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 3, i + 1), c) }
      val memS = MemoryStream[BarRow]
      val qs = Streams.streamingDailySharpe(memS.toDS())
        .writeStream.format("memory").queryName("sharpe_snap")
        .outputMode("append").start()
      Seq(bars.take(2), bars.drop(2)).foreach { b =>
        memS.addData(b: _*); qs.processAllAvailable()
      }
      qs.stop()
      val gotSharpe = spark.table("sharpe_snap")
        .collect().map(r => (r.getDate(1).toString, r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .maxBy(_._1)
      val barTicks = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i + 1L, f"2024-03-${i + 1}%02d 12:00:00") }
        .toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val wantSharpe = Graft.dailySharpe(barTicks, "user_id", "ts", "value",
        "event_id")
        .collect().map(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).head
      assert((gotSharpe._2, gotSharpe._3) === wantSharpe,
        s"sharpe stream $gotSharpe vs batch $wantSharpe")
      assert(wantSharpe._2.isDefined)
    }
  }

  test("EMA recurrence state survives a checkpointed stop/restart (the " +
    "post-restart bar folds from the remembered EMAs, bit-equal to batch)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BarRow
    withRocks {
      val ckpt = Files.createTempDirectory("graft_ema_ckpt").toString
      val closes = Seq(1000L, 1123L, 957L, 1201L, 1066L, 1300L)
      val bars = closes.zipWithIndex.map { case (c, i) =>
        BarRow(1L, java.time.LocalDate.of(2024, 2, i + 1), c) }
      val mem = MemoryStream[BarRow]
      val rows = scala.collection.mutable.Map.empty[String, (Double, Double)]
      def run(): org.apache.spark.sql.streaming.StreamingQuery =
        Streams.streamingEmaMacd(mem.toDS())
          .toDF("user_id", "day", "close_cents", "ema20", "macd",
            "macd_signal", "hist")
          .writeStream.option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r =>
              rows(r.getDate(1).toString) = (r.getDouble(3), r.getDouble(4))): Unit
          }.start()
      val q1 = run()
      mem.addData(bars.take(4): _*)
      q1.processAllAvailable(); q1.stop()
      val q2 = run() // RESTART: the four folded EMAs must come from RocksDB
      mem.addData(bars.drop(4): _*)
      q2.processAllAvailable(); q2.stop()
      // batch reference over the same series — bit-equal per bar
      val ticks = closes.zipWithIndex.map { case (c, i) =>
        (1L, c.toDouble / 100.0, i.toLong, f"2024-02-${i + 1}%02d 12:00:00") }
        .toDF("user_id", "value", "event_id", "at")
        .withColumn("ts", to_timestamp_ntz(col("at"))).drop("at")
      val wantEma = Graft.ema(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "ema").collect()
        .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
      val wantMacd = Graft.macd(ticks, "user_id", "ts", "value", "event_id")
        .select("day", "macd").collect()
        .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
      assert(rows.size === closes.size)
      wantEma.foreach { case (d, e) => assert(rows(d)._1 === e, s"ema20 at $d") }
      wantMacd.foreach { case (d, m) => assert(rows(d)._2 === m, s"macd at $d") }
    }
  }

  /** Output rows (as strings, sorted) of `twin` over `batches` fed to one
    * query with the RocksDB provider; with `restartAt = Some(i)` the
    * query is stopped before batch i and restarted from its checkpoint. */
  private def twinRun[T: org.apache.spark.sql.Encoder](batches: Seq[Seq[T]],
      mode: String, restartAt: Option[Int])(
      twin: org.apache.spark.sql.Dataset[T] => org.apache.spark.sql.DataFrame)
      : Seq[String] = {
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val ckpt = Files.createTempDirectory("graft_twin_ckpt").toString
      val mem = MemoryStream[T]
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      def start(): org.apache.spark.sql.streaming.StreamingQuery =
        twin(mem.toDS()).writeStream.option("checkpointLocation", ckpt)
          .outputMode(mode)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized { got ++= b.collect().map(_.toString) }: Unit
          }.start()
      var q = start()
      batches.zipWithIndex.foreach { case (b, i) =>
        if (restartAt.contains(i)) { q.stop(); q = start() }
        mem.addData(b: _*); q.processAllAvailable()
      }
      q.stop()
      got.synchronized(got.toSeq.sorted)
    }
  }

  test("streamingForceIndex (VolBarRow) survives a checkpointed " +
    "stop/restart: output equals the uninterrupted run") {
    import graft.streaming.VolBarRow
    val bars = Seq((1060L, 950L, 1040L, 10L), (1100L, 1000L, 1020L, 25L),
      (1150L, 1010L, 1140L, 7L), (1100L, 1100L, 1100L, 12L),
      (1120L, 1040L, 1100L, 31L), (1300L, 1090L, 1280L, 4L))
      .zipWithIndex.flatMap { case ((h, l, c, v), i) =>
        Seq(VolBarRow(1L, java.time.LocalDate.of(2024, 1, i + 1), h, l, c, v),
          VolBarRow(2L, java.time.LocalDate.of(2024, 1, i + 1), h + 5, l, c - 3,
            v + 1)) }
    val batches = Seq(bars.take(4), bars.slice(4, 8), bars.drop(8))
    def run(r: Option[Int]) =
      twinRun(batches, "append", r)(ds => Streams.streamingForceIndex(ds).toDF())
    val whole = run(None)
    assert(whole.size === bars.size)
    assert(run(Some(1)) === whole, "restart after batch 0")
    assert(run(Some(2)) === whole, "restart after batch 1")
  }

  test("streamingVpinBuckets (TickRow) survives a checkpointed " +
    "stop/restart with an open bucket straddling it") {
    import graft.streaming.TickRow
    val barVol = 500L
    // key 1: 450 of bucket 0's volume lands before the restart, 200 more
    // after it, and the 4th tick closes bucket 0 (volume 650)
    val ticks = Seq((1L, 100L, 300L), (1L, 120L, 150L), (2L, 50L, 490L),
      (1L, 90L, 200L), (1L, 110L, 400L), (2L, 60L, 20L), (2L, 55L, 600L),
      (1L, 130L, 50L))
      .zipWithIndex.map { case ((k, c, v), i) => TickRow(k, i.toLong, c, v) }
    val batches = Seq(ticks.take(3), ticks.slice(3, 6), ticks.drop(6))
    def run(r: Option[Int]) = twinRun(batches, "append", r)(ds =>
      Streams.streamingVpinBuckets(ds, barVol).toDF())
    val whole = run(None)
    val restarted = run(Some(1))
    assert(restarted === whole)
    // bucket 0 of key 1 holds its three ticks across the restart:
    // signed volume 0 + 150 - 200, volume 300 + 150 + 200
    assert(restarted.contains("[1,0,50,650]"), restarted)
    assert(whole.size === 3, whole)
  }

  test("streamingSprt (String key) survives a checkpointed stop/restart: " +
    "output equals the uninterrupted run") {
    import graft.streaming.SprtEvent
    val evs = (0 until 60).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(
        f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d")
      Seq(SprtEvent("a", i.toLong + 1, ts, if ((i + 1) % 7 == 0) 1L else 0L),
        SprtEvent("b", i.toLong + 101, ts, if (i % 3 == 0) 1L else 0L))
    }
    val batches = Seq(evs.take(40), evs.slice(40, 80), evs.drop(80))
    def run(r: Option[Int]) =
      twinRun(batches, "append", r)(ds => Streams.streamingSprt(ds).toDF())
    val whole = run(None)
    assert(whole.size === evs.size)
    assert(whole.exists(_.contains("accept_h0")), "stream a decides")
    assert(run(Some(1)) === whole, "restart after batch 0")
    assert(run(Some(2)) === whole, "restart after batch 1")
  }

  test("streamingWindowFunnel's late-row guard survives a checkpointed " +
    "stop/restart: a row older than the pre-restart horizon counts in " +
    "n_late") {
    import graft.streaming.SeqEvent
    def ev(u: Long, i: Long, t: String, sec: Long) =
      SeqEvent(u, i, new java.sql.Timestamp(1700000000000L + sec * 1000L), t)
    // batch 0 folds key 1 up to sec 150; after the restart a view at
    // sec 120 is late, and the purchase completes the pre-restart pair
    val batches = Seq(
      Seq(ev(1, 1, "v", 100), ev(1, 2, "c", 150), ev(2, 3, "v", 100)),
      Seq(ev(1, 4, "v", 120), ev(1, 5, "p", 200), ev(2, 6, "c", 130)))
    def run(r: Option[Int]) = twinRun(batches, "update", r)(ds =>
      Streams.streamingWindowFunnel(ds).toDF())
    val whole = run(None)
    val restarted = run(Some(1))
    assert(restarted === whole)
    assert(restarted.contains("[1,3,1]"),
      s"level 3 with the late view counted: $restarted")
    assert(restarted.contains("[2,2,0]"), restarted)
  }
}

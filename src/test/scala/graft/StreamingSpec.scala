package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.streaming.Streams
import org.apache.spark.sql.streaming.Trigger

/** The reference's tick as one streaming query (SURVEY.md §2.9):
  * `Streams.startQuoteStream` over the `graft-ticks` source, its
  * restart, replay and checkpoint-reset recovery, its per-tick job and
  * fork budget, and the `SnapshotFanout` push seam. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

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

  test("startQuoteStream runs the whole reference tick on the DSv2 source: " +
    "stage → shape → store → latest-per-symbol snapshot, restart resumes from the committed tick") {
    import graft.sources.Sources
    val staging = Files.createTempDirectory("graft_qs").toString + "/ticks"
    val store = Files.createTempDirectory("graft_qs_store").toString + "/store"
    val snapDir = Files.createTempDirectory("graft_qs_snap").toString + "/snap"
    val ckpt = Files.createTempDirectory("graft_qs_ckpt").toString
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 00:00:0$s")
    var snap = Map.empty[String, (Double, java.sql.Timestamp)]
    var pushed: org.apache.spark.sql.DataFrame = null
    def run(): Unit = {
      val q = Streams.startQuoteStream(spark, staging, store, ckpt, snapDir,
          Trigger.ProcessingTime(0)) { (s, _) =>
        pushed = s
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
    // the incremental chain equals the full recompute over the store
    val recomputed = Streams.quoteSnapshot(spark.read.parquet(store).drop("batch_id"))
    assert(pushed.collect().toSeq == recomputed.collect().toSeq)
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

  test("a quote stream on a fresh checkpoint restarts its batch ids at 0 " +
    "and inherits the surviving snapshot generation") {
    val root = Files.createTempDirectory("graft_qreset").toString
    // first life: ticks 1-2 are batches 0-1 (a lone generation 0 is not
    // inherited, see Streams.foldGeneration)
    stageQuote(root, 1)
    val q1 = startQuotes(root)
    try (1 to 2).foreach { t =>
      if (t > 1) stageQuote(root, t)
      q1.processAllAvailable()
    } finally q1.stop()
    // second life: a new tick log and a fresh checkpoint over the same
    // store and snapshot directories, whose tick 3 carries neither c1 nor c2
    val reset = Files.createTempDirectory("graft_qreset2").toString
    stageQuote(reset, 3)
    var pushed = Seq.empty[(Long, Map[String, Double])]
    val q2 = Graft.startQuoteStream(spark, s"$reset/ticks", s"$root/store",
        s"$reset/ckpt", s"$root/snap", Trigger.ProcessingTime(0)) { (s, b) =>
      pushed :+= b -> s.select("symbol", "current_price").as[(String, Double)]
        .collect().toMap
    }
    try q2.processAllAvailable() finally q2.stop()
    assert(pushed == Seq(0L -> Map("btc" -> 3.0, "c1" -> 1.0, "c2" -> 1.0,
      "c3" -> 1.0)), s"pre-reset symbols must survive the reset: $pushed")
  }

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
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    import org.apache.spark.graft.SparkInternals
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val groupOf = new ConcurrentHashMap[Int, String]
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val started = new AtomicReference(new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        groups.add(group)
        if (group != null) groupOf.put(e.jobId, group)
        started.get.countDown()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId): Unit
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
      // stop() cancels the query's job group, ends the stream thread and
      // cancels the group again; the DAG scheduler handles that second
      // cancel after stop() returns, so a job started between the two
      // cancels ends tens of ms later. Every job of the query must end
      // within 10 s of the stop.
      def running = {
        SparkInternals.flushListenerBus(sc)
        groupOf.asScala.collect {
          case (id, g) if g == q.runId.toString && !ended.contains(id) => id
        }.toSeq.sorted
      }
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      var left = running
      while (left.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(20)
        left = running
      }
      assert(left.isEmpty, s"jobs still running 10 s after stop: ${left.mkString(", ")}")
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
}

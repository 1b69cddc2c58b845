package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/parquet-reader warmup so the first measured query does
    // not absorb one-time session costs (no data is cached).
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    spark.range(1000).selectExpr("sum(id)").collect()
    // Noise control (round-8 verdict: the bench box's ±60% ambient drift
    // exceeded per-query signal — q_aroon ×20→×4 warm, 5.5× gaps between
    // structural twins): one DISCARDED cold run (absorbs per-query
    // codegen + first-touch), then median of 3 warm runs. Chain lines
    // materialize real state so they cannot re-run in place — they get
    // min-of-2 via timedChain below (round-10 verdict). A failing query
    // records the sentinel -1.0 (timing the exception path would report
    // a crash as a fast success).
    def once(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    }
    // Cluster-wide task metrics, snapshot-delta'd around each timed run:
    // wall time alone cannot distinguish driver-machine contention from a
    // real regression (round-10: chain_day_vols 0.97→32.4 s across rounds
    // with untouched code; round-11: the same ambiguity for the graph
    // tier, which only chain lines could adjudicate). Executor CPU time
    // next to run time is what tells the two apart.
    val metrics = Metrics.attach(spark)
    val start = metrics.snapshot()
    // SPARK_GRAFT_BENCH_RUNS: warm repeats after the discarded cold run
    // (default 3 → median-of-3). 0 = report the cold run itself — the
    // scale-step harness times each query once (an sf10 query can cost
    // minutes; medians there buy noise reduction nobody reads).
    val warmRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    def r3(x: Double) = math.rint(x * 1000) / 1000
    // EVERY query line carries task/shuffle attribution (round-11
    // verdict: a cluster of graph queries moved 3.5–9× driver-to-driver
    // on unchanged code and only chain lines had the metrics to say box
    // vs work). task_s ≈ cpu_s ⇒ the work itself is that big; task_s ≫
    // cpu_s ⇒ tasks waited for a core, the box was oversubscribed. Cold
    // and warm are attributed separately — warm runs reread the cold
    // run's per-line caches, so their task_s is the marginal cost. memo_builds
    // counts the memo store builds of the cold run: a consumer line that
    // builds a chain's entry is paying for that chain.
    val queryMeta = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def memoBuilds(): Long = graft.store.Memo.stats(spark).map(_.builds).sum
    // The cold run's account also splits the line's wall into frame
    // construction (build_ms, timed inside the timed body; it holds the
    // frame's own eager analysis and any memo build the query body
    // runs) and the Catalyst phases of the queries that ran.
    def timedWarm(name: String)(
        build: => org.apache.spark.sql.DataFrame): (String, Double) = {
      var buildNs = 0L
      def body(): Unit = {
        val t0 = System.nanoTime()
        val df = build
        buildNs = System.nanoTime() - t0
        df.count(): Unit
      }
      val c0 = metrics.snapshot()
      val b0 = memoBuilds()
      val cold = once(name)(body())
      val c = metrics.since(c0)
      val buildMs = buildNs / 1e6
      val builds = memoBuilds() - b0
      def emit(taskS: Double, cpuS: Double, shufMbV: Double): Unit =
        queryMeta(name) =
          s"""{"cold":${r3(cold)},"task_cold_s":${r3(c.runS)},""" +
            s""""shuf_cold_mb":${r3(c.shuffleB / 1e6)},"memo_builds":$builds,""" +
            s""""task_s":${r3(taskS)},"cpu_s":${r3(cpuS)},"shuf_mb":${r3(shufMbV)},""" +
            s""""cpu_cold_s":${r3(c.cpuS)},"gc_cold_s":${r3(c.gcS)},""" +
            s""""spill_cold_mb":${r3(c.spillB / 1e6)},""" +
            s""""peak_mem_mb":${r3(c.peakMemB / 1e6)},"jobs":${c.jobs},""" +
            s""""stages":${c.stages},"tasks":${c.tasks},"build_ms":${r3(buildMs)},""" +
            s""""analysis_ms":${c.analysisMs},"optimization_ms":${c.optimizationMs},""" +
            s""""planning_ms":${c.planningMs}}"""
      if (cold < 0 || warmRuns == 0) { emit(-1.0, -1.0, -1.0); name -> cold }
      else {
        val runs = (1 to warmRuns).map { _ =>
          val w0 = metrics.snapshot()
          val w = once(name)(body())
          val m = metrics.since(w0)
          (w, m.runS, m.cpuS, m.shuffleB / 1e6)
        }
        def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
        emit(med(runs.map(_._2)), med(runs.map(_._3)), med(runs.map(_._4)))
        name -> (if (runs.exists(_._1 < 0)) -1.0 else med(runs.map(_._1)))
      }
    }
    // Storage sweep BETWEEN lines (never inside a timed section): each
    // query body may persist/localCheckpoint intermediates it never
    // unpersists, and cold+3-warm × 582 lines of dead blocks is enough
    // pressure to evict whatever the next line needed (the round-11
    // regression cluster). Chains are parquet-backed (graft.store.Memo),
    // so dropping EVERY cached block is safe — consumers
    // still read the store. clearCache() drops CacheManager entries
    // (plan-level persists) AND their blocks; the getPersistentRDDs pass
    // reaps RDD-level blocks clearCache cannot see (localCheckpoint
    // generations from the iterative graph queries).
    def sweepStorage(): Unit = Harness.sweepStorage(spark)
    // The shared memoized dedup/ANN intermediates get their OWN bench
    // lines, timed BEFORE any consumer query: the MinHash→verify→cluster
    // chain's materialization cost is a pipeline cost, and charging it to
    // whichever q_* touches the memo first would mis-attribute 10×
    // a consumer's marginal cost to an arbitrary query (round-6 verdict:
    // q_dup_survivorship at 9.3 s was the chain, not the anti-join).
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b,chain_x restricts the run — the
    // sf10 scale-step harness benches the headline subset without paying
    // 211 queries at 100× data (unfiltered runs are unchanged).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // Chain lines (graft.queries.Chains, registry order): min-of-2 — the
    // first (timed cold) materialization IS the memo every consumer
    // reads; the second rebuilds the chain's own work OUTSIDE the memo
    // (Chain.rebuild) and is discarded. A load spike must hit both
    // materializations to fake a regression, and the emitted
    // task/shuffle metrics expose it when it does.
    // SPARK_GRAFT_BENCH_RUNS=0 (the sf10 scale-step harness) skips the
    // resample like it skips warm repeats.
    val chainMeta = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timedChain(c: graft.queries.Chains.Chain): (String, Double) = {
      val name = c.name
      val c0 = metrics.snapshot()
      val w1 = once(name) { c(spark, sfDir).count(): Unit }
      val m1 = metrics.since(c0)
      val (w2, m2) =
        if (w1 < 0 || warmRuns == 0) {
          (-1.0, metrics.since(metrics.snapshot())) // nothing ran: all zero
        } else {
          // sweep BETWEEN the two timings (outside both timed sections):
          // run #1's leftover persists/checkpoints otherwise tax run #2
          // with block-eviction and GC pressure run #1 never paid —
          // measured (round 12) as the resample's task-s landing 1.7–2.3×
          // ABOVE the first build's on identical plans. Run #2 rebuilds
          // everything itself from parquet-backed upstreams, so nothing
          // it references is cached (the Harness.sweepStorage invariant).
          sweepStorage()
          val c2 = metrics.snapshot()
          val w = once(s"$name#2") {
            // noop sink, NOT count(): count() lets the optimizer
            // column-prune a map-only rebuild down to a parquet row-count
            // (chain_simhash_sigs timed 0.06 task-s for a ~2.3 task-s
            // fold). The noop write computes EVERY output column and
            // discards it. Run 1 is unaffected (the store write forces
            // full materialization); query lines keep count() for
            // driver comparability.
            val df = c.rebuild(spark, sfDir)
            df.write.format("noop").mode("overwrite").save()
            try df.unpersist(blocking = false)
            catch { case scala.util.control.NonFatal(_) => }
          }
          (w, metrics.since(c2))
        }
      chainMeta(name) =
        s"""{"wall1":${r3(w1)},"wall2":${r3(w2)},""" +
          s""""task1_s":${r3(m1.runS)},"task2_s":${r3(m2.runS)},""" +
          s""""cpu1_s":${r3(m1.cpuS)},"cpu2_s":${r3(m2.cpuS)},""" +
          s""""shuf1_mb":${r3(m1.shuffleB / 1e6)},"shuf2_mb":${r3(m2.shuffleB / 1e6)}}"""
      val best = if (w2 >= 0) math.min(w1, w2) else w1
      name -> best
    }
    val chain = graft.queries.Chains.all.filter(c => selected(c.name))
      .map { c =>
        val line = timedChain(c)
        sweepStorage() // chain results live in the parquet store, not cache
        line
      }
    val results = chain ++ SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
      .map { case (name, fn) =>
        val line = timedWarm(name)(fn(spark, sfDir))
        sweepStorage() // this line's persists must not tax the next line
        line
      }
    // failures first (a -1.0 sentinel is the most informative line of
    // all), then slowest-first: the driver captures a bounded tail of
    // stdout, so the informative prefix must survive truncation
    val qs = results.sortBy { case (_, v) => if (v < 0) Double.MinValue else -v }
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failures = results.map(_._2).count(_ < 0)
    val chains = chainMeta
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // per-query attribution, same slowest-first order as `queries` so a
    // bounded-tail reader sees the lines that matter
    val metaOrder = results.sortBy { case (_, v) =>
      if (v < 0) Double.MinValue else -v }.map(_._1)
    val qmeta = metaOrder.flatMap(k => queryMeta.get(k).map(v => s"\"" + k + "\":" + v))
      .mkString("{", ",", "}")
    // the memo store's own account of the run, per entry name
    val memo = graft.store.Memo.stats(spark).map { m =>
      s""""${m.name}":{"entries":${m.entries},"hits":${m.hits},""" +
        s""""builds":${m.builds},"build_s":${r3(m.buildMs / 1e3)},""" +
        s""""mb":${r3(m.bytes / 1e6)}}"""
    }.mkString("{", ",", "}")
    // The whole run's contention verdict: executor run time over CPU time
    // above this bound means tasks mostly waited for a core, so walls
    // measure the box, not the work (the bound perfbench's
    // host.contended uses).
    val contendedOver = 3.0
    val whole = metrics.since(start)
    val runOverCpu = if (whole.cpuNs > 0) whole.runS / whole.cpuS else 0.0
    val contended = runOverCpu > contendedOver
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","failures":$failures,"warm":true,""" +
      s""""contended":$contended,"run_over_cpu":${r3(runOverCpu)},"contended_over":{"run_over_cpu":$contendedOver},""" +
      s""""queries":$qs,"chains":$chains,"qmeta":$qmeta,"memo":$memo,"sf":"$sfDir"}"""
    // Emit both ways: bare line on real stdout (build.sbt sets
    // run/outputStrategy := StdoutOutput so sbt does not "[info]"-prefix
    // it), and a file a consumer can read without scraping sbt logs.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: ${e.getMessage}") }
    spark.stop()
    // Last so no further Spark shutdown logging can land after it. The
    // full line first, then a SHORT total-only line: a consumer reading a
    // bounded tail of stdout (the driver's capture window starts mid-line
    // once the per-query map grows past it) always gets one complete
    // parseable JSON object.
    System.out.println(line)
    System.out.println(
      s"""{"metric":"total","value":$total,"unit":"sec","failures":$failures}""")
    System.out.flush()
  }
}

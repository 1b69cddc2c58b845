package graft

import org.apache.spark.sql.functions._

/** The Graft facade must be exactly the reference-parity queries a
  * switching user expects — pinned by equivalence to the oracle-checked
  * q_ entries, not by re-stating their logic. */
class GraftFacadeSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("Graft.session returns the shared session and re-asserts its canon") {
    val s = Graft.session("local[4]", 4)
    assert(s eq spark)
    def canon(): Unit = {
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.conf.get("spark.sql.sources.parallelPartitionDiscovery.parallelism") ==
        s.sparkContext.defaultParallelism.toString)
    }
    canon()
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "512")
    // The local filesystem as the engine reaches it: through the JVM-wide
    // FileSystem cache and through FileContext (checkpoint logs). The
    // cache is keyed by scheme and user, not by conf, so a `file:`
    // FileSystem built before the session would stay the stock class
    // and this fails; FsSpec builds its filesystems with `new` so it
    // never fills the cache.
    val conf = s.sessionState.newHadoopConf()
    assert(org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), conf)
      .getClass == classOf[NioLocalFileSystem])
    assert(org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
      .getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(s.sparkContext.uiWebUrl.isEmpty)
    // GraftExtensions is installed: its SQL function resolves
    assert(s.sql("SELECT graft_shingles('a b c d', 3, false) AS sh")
      .collect().head.getSeq[String](0).nonEmpty)
    try {
      s.conf.set("spark.sql.session.timeZone", "America/New_York")
      s.conf.set("spark.sql.shuffle.partitions", "7")
      s.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism", "10000")
      s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      assert(Graft.session("local[4]", 4) eq s)
      canon()
    } finally {
      s.conf.set("spark.sql.session.timeZone", "UTC")
      s.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("reading a tree of 48 batch_id=N directories lists in at most " +
    "one task per core") {
    val root = java.nio.file.Files.createTempDirectory("graft_listing")
    val dir = root.resolve("store").toString
    try {
      spark.range(48).select(col("id").as("v"), col("id").cast("int").as("batch_id"))
        .write.partitionBy("batch_id").parquet(dir)
      val m = TestSession.metrics
      val s0 = m.snapshot()
      // a given schema skips the footer read, so the listing is the one job
      val df = spark.read.schema("v LONG, batch_id INT").parquet(dir)
      val listed = m.since(s0)
      assert(listed.jobs == 1 && listed.tasks > 0, s"listing ran no job: $listed")
      assert(listed.tasks <= spark.sparkContext.defaultParallelism,
        s"${listed.tasks} listing tasks for 48 directories")
      assert(df.count() == 48)
    } finally graft.Fs.deleteRecursively(root.toFile)
  }

  test("a persisted few-hundred-row frame is read in at most one task " +
    "per core, not one per shuffle partition") {
    withConf("spark.sql.shuffle.partitions", "32") {
      val df = spark.range(300).groupBy((col("id") % 100).as("k")).count().persist()
      try {
        df.write.format("noop").mode("overwrite").save() // builds the cache
        val m = TestSession.metrics
        val s0 = m.snapshot()
        df.write.format("noop").mode("overwrite").save()
        val read = m.since(s0)
        assert(read.tasks > 0 && read.tasks <= spark.sparkContext.defaultParallelism,
          s"${read.tasks} tasks to read a 100-row cached frame")
      } finally df.unpersist(blocking = true)
    }
  }

  test("Graft.snapshot == q_latest") {
    val ev = Tables.events(spark, sf0001)
    val got = Graft.snapshot(ev)
      .select("event_id", "user_id", "ts", "event_type", "value")
      .orderBy(col("value").desc_nulls_last, col("user_id").asc, col("event_id").asc)
    val want = SparkEntry.queries("q_latest")(spark, sf0001)
    assert(rows(got) == rows(want))
  }

  test("Graft.history covers all four optional-bound shapes") {
    val ev = Tables.events(spark, sf0001)
    def shape(s: Option[String], e: Option[String], q: String) = {
      val got = Graft.history(ev, 7L, s, e)
        .select("event_id", "ts", "event_type", "value")
      assert(rows(got) == rows(SparkEntry.queries(q)(spark, sf0001)), q)
    }
    shape(Some("2024-01-05"), Some("2024-01-20"), "q_history")
    shape(None, Some("2024-01-10"), "q_history_open_start")
    shape(Some("2024-01-15"), None, "q_history_open_end")
    shape(None, None, "q_history_nodates")
  }

  test("Graft.topWithOther == the q_topk_other rollup") {
    val rev = Tables.orders(spark, sf0001)
      .filter(col("o_totalprice").isNotNull && col("o_totalprice") > 0)
      .groupBy(col("o_custkey"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
      .select(col("o_custkey").cast("string").as("bucket"), col("rev"))
    val got = Graft.topWithOther(rev, "bucket", "rev")
      .withColumn("rev", round(col("rev"), 2))
      .orderBy(col("rev").desc_nulls_last, col("bucket").asc)
      .select("bucket", "rev")
    val want = SparkEntry.queries("q_topk_other")(spark, sf0001)
      .select("bucket", "rev")
    assert(rows(got) == rows(want))
  }

  test("Graft.nearDupPairs + dedupKeepList: keepers = one per cluster, " +
    "non-keepers are exactly the dup-cluster members") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val pairs = Graft.nearDupPairs(docs)
    val keep = Graft.dedupKeepList(docs, pairs)
    assert(keep.count() == docs.count(), "every doc gets a decision")
    // keepers are exactly the distinct cluster ids
    val clusters = keep.select("cluster_id").distinct().count()
    assert(keep.filter(col("keep")).count() == clusters)
    // non-keepers match the oracle-checked cluster-members query
    val nonKeepers = keep.filter(!col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val want = SparkEntry.queries("q_dedup_clusters")(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    assert(nonKeepers == want)
  }

  test("Graft.activityStreaks matches the oracle-checked islands query") {
    val got = Graft.activityStreaks(Tables.events(spark, sf0001))
      .orderBy(col("user_id").asc)
    val want = SparkEntry.queries("q_gaps_islands")(spark, sf0001)
    assert(rows(got) == rows(want))
  }

  test("Graft.skyline names its derived columns as asked and matches " +
    "the oracle-checked frontier") {
    val got = Graft.skyline(Tables.part(spark, sf0001),
      "p_size", "p_retailprice", bestCol = "best_price", nCol = "n_parts")
      .orderBy(col("p_size").asc)
    val want = SparkEntry.queries("q_skyline")(spark, sf0001)
    assert(got.columns.toSeq == Seq("p_size", "best_price", "n_parts"))
    assert(rows(got) == rows(want))
  }

  test("Graft.transitionMatrix / anomalyScreen / compactionPlan / " +
    "clusterAuthority match their oracle-checked queries") {
    val ord = Seq(col("ts").asc, col("event_id").asc)
    val e = Tables.events(spark, sf0001)
    assert(rows(Graft.transitionMatrix(e, "user_id", "event_type", ord)
        .orderBy(col("prev_type").asc, col("curr_type").asc)) ==
      rows(SparkEntry.queries("q_transitions")(spark, sf0001)))
    assert(rows(Graft.anomalyScreen(e, "user_id", "value", ord)
        .orderBy(col("user_id").asc, col("event_id").asc)) ==
      rows(SparkEntry.queries("q_rolling_zscore")(spark, sf0001)))
    val perDay = e.groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    assert(rows(Graft.compactionPlan(perDay, "day", "n",
        queries.Breadth9.CompactTargetRows)) ==
      rows(SparkEntry.queries("q_compaction_plan")(spark, sf0001)))
    assert(rows(Graft.clusterAuthority(
        Graft.nearDupPairs(Tables.documents(spark, sf0001)))
        .select(col("node").as("doc_id"), round(col("pr"), 6).as("pagerank"))
        .orderBy(col("doc_id").asc)) ==
      rows(SparkEntry.queries("q_pagerank")(spark, sf0001)))
  }

  test("Graft wave-10 analytics (maxDrawdown / rsi / smaCross / dayGaps / " +
    "benfordScreen / lag1Autocorr / trendingScores / readability) " +
    "match their oracle-checked queries") {
    val ord = Seq(col("ts").asc, col("event_id").asc)
    val e = Tables.events(spark, sf0001)
    assert(rows(Graft.maxDrawdown(e, "user_id", "value", ord)
        .orderBy(col("user_id").asc)) ==
      rows(SparkEntry.queries("q_drawdown")(spark, sf0001)))
    assert(rows(Graft.rsi(e, "user_id", "value", ord)
        .select("user_id", "event_id", "value", "rsi")
        .orderBy(col("user_id").asc, col("event_id").asc)) ==
      rows(SparkEntry.queries("q_rsi")(spark, sf0001)))
    assert(rows(Graft.smaCross(e, "user_id", "value", ord)
        .select("user_id", "event_id", "sma_fast", "sma_slow", "signal", "crossed")
        .orderBy(col("user_id").asc, col("event_id").asc)) ==
      rows(SparkEntry.queries("q_sma_cross")(spark, sf0001)))
    assert(rows(Graft.dayGaps(e, "user_id", "value")
        .select("user_id", "day", "open", "close", "prev_close", "gap_pct")
        .orderBy(col("user_id").asc, col("day").asc)) ==
      rows(SparkEntry.queries("q_gap_days")(spark, sf0001)))
    assert(rows(Graft.benfordScreen(Tables.orders(spark, sf0001), "o_totalprice")
        .orderBy(col("digit").asc)) ==
      rows(SparkEntry.queries("q_benford")(spark, sf0001)))
    assert(rows(Graft.lag1Autocorr(e, "user_id", "value", ord)
        .orderBy(col("user_id").asc)) ==
      rows(SparkEntry.queries("q_autocorr")(spark, sf0001)))
    assert(rows(Graft.trendingScores(
        e.withColumn("__day", col("ts").cast("date")),
        "event_type", "value", "__day")
        .orderBy(col("event_type").asc)) ==
      rows(SparkEntry.queries("q_decay_trend")(spark, sf0001)))
    assert(rows(Graft.readability(Tables.documents(spark, sf0001))
        .select("doc_id", "n_words", "n_sents", "n_vowel_groups", "flesch", "band")
        .orderBy(col("doc_id").asc)) ==
      rows(SparkEntry.queries("q_readability")(spark, sf0001)))
  }

  test("Graft.stageTick/tickBacklog/startQuoteStream wire the live quote " +
    "pipeline: staged ticks equal the batch parse, one tick drives a snapshot") {
    import java.nio.file.Files
    val staging = Files.createTempDirectory("graft_fac_ticks").toString + "/ticks"
    val p1 = """[{"symbol":"BTC","name":"Bitcoin","current_price":1.0,"market_cap":2.0}]"""
    val p2 = """[{"symbol":"ETH","name":"Ether","current_price":4.0,"market_cap":1.0}]"""
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-04-01 00:00:0$s")
    assert(Graft.stageTick(spark, () => p1, staging, ts(1)) == 1L)
    assert(Graft.stageTick(spark, () => p2, staging, ts(2)) == 1L)
    // backlog read == the batch parse of both payloads, tick-stamped
    val backlog = Graft.tickBacklog(spark, staging)
      .select("symbol", "current_price", "tick_ms").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(backlog == Set(("BTC", 1.0, ts(1).getTime), ("ETH", 4.0, ts(2).getTime)))
    // one resident query: snapshot arrives latest-per-symbol, cap-ordered
    var snap = Seq.empty[(String, Double)]
    val q = Graft.startQuoteStream(spark, staging,
        Files.createTempDirectory("graft_fac_store").toString + "/store",
        Files.createTempDirectory("graft_fac_ckpt").toString,
        Files.createTempDirectory("graft_fac_snap").toString + "/snap",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) { (s, _) =>
      snap = s.select("symbol", "current_price").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    q.processAllAvailable(); q.stop()
    // dashboard order: market_cap DESC (btc 2.0 before eth 1.0)
    assert(snap == Seq(("btc", 1.0), ("eth", 4.0)))
  }

  test("Graft.snapshotDiff flags change, insert-shape, delete-shape, " +
    "and leaves identical keys unchanged") {
    import spark.implicits._
    val oldGen = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val newGen = Seq((1L, 10.0), (2L, 25.0), (4L, 40.0)).toDF("k", "v")
    val out = Graft.snapshotDiff(oldGen, newGen, "k", "v")
      .select("k", "changed").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
  }

  test("Graft round-8 facades (varEs / spearman / kendall / hurstRs / " +
    "modeBy / stringAgg / bitwiseAgg / olsTrend / kmeansAssign / " +
    "dsirWeights / cmf / dpo / forceIndex / adlChaikin) match their " +
    "oracle-checked queries") {
    val e = Tables.events(spark, sf0001)
    val byKey = Seq("user_id", "ts", "value", "event_id")
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.varEs(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc)) == q("q_var_es"))
    assert(rows(Graft.spearman(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc)) == q("q_spearman"))
    assert(rows(Graft.kendall(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc)) == q("q_kendall"))
    assert(rows(Graft.hurstRs(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc)) == q("q_hurst"))
    assert(rows(Graft.modeBy(e, "event_type", "value")
      .orderBy(col("event_type").asc)) == q("q_mode"))
    assert(rows(Graft.stringAgg(e, "user_id", "event_type")
      .orderBy(col("user_id").asc)) == q("q_string_agg"))
    assert(rows(Graft.bitwiseAgg(e, "event_type", "value")
      .orderBy(col("event_type").asc)) == q("q_bitwise_agg"))
    assert(rows(Graft.olsTrend(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc)) == q("q_regr"))
    assert(rows(Graft.kmeansAssign(Tables.embeddings(spark, sf0001))
      .orderBy(col("vec_id").asc)) == q("q_kmeans"))
    assert(rows(Graft.dsirWeights(Tables.documents(spark, sf0001))
      .orderBy(col("doc_id").asc)) == q("q_dsir"))
    assert(rows(Graft.cmf(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_cmf"))
    assert(rows(Graft.dpo(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_dpo"))
    assert(rows(Graft.forceIndex(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_force_index"))
    assert(rows(Graft.adlChaikin(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_adl_chaikin"))
    assert(rows(Graft.nviPvi(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_nvi_pvi"))
    assert(rows(Graft.trix(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_trix"))
    assert(rows(Graft.kama(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_kama"))
    assert(rows(Graft.massIndex(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_mass_index"))
  }

  test("Graft round-9 facades (knnEdges+triangleStats / linkPredict / " +
    "countMin / holt / theilSen / varBacktest / volCone / novelty / " +
    "sourceRedundancy) match their oracle-checked queries") {
    val e = Tables.events(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    val byKey = Seq("user_id", "ts", "value", "event_id")
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    val edges = Graft.knnEdges(emb)
    assert(rows(Graft.triangleStats(edges).orderBy(col("vec_id").asc))
      == q("q_knn_triangles"))
    assert(rows(Graft.linkPredict(edges)) == q("q_link_predict"))
    assert(rows(Graft.countMin(e, "user_id")) == q("q_count_min"))
    assert(rows(Graft.holt(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_holt"))
    assert(rows(Graft.theilSen(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc)) == q("q_theil_sen"))
    assert(rows(Graft.varBacktest(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc)) == q("q_var_backtest"))
    assert(rows(Graft.volCone(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("horizon").asc)) == q("q_vol_cone"))
    assert(rows(Graft.novelty(docs)) == q("q_novelty"))
    assert(rows(Graft.sourceRedundancy(docs)) == q("q_source_redundancy"))
  }

  test("Graft wave-52..61 facades (saxSegments / threeBarPatterns / " +
    "balanceOfPower / qualityRules / volumeProfile / obvDivergence / " +
    "indexNav / turnover / volumeBars / vpin / dollarBars / langPrf) " +
    "match their oracle-checked queries") {
    val e = Tables.events(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    val byKey = Seq("user_id", "ts", "value", "event_id")
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.saxSegments(e, byKey(0), byKey(1), byKey(2), byKey(3))
      .orderBy(col("user_id").asc, col("seg_idx").asc)) == q("q_sax"))
    assert(rows(Graft.threeBarPatterns(e, byKey(0), byKey(1), byKey(2),
      byKey(3)).orderBy(col("user_id").asc, col("day").asc))
      == q("q_three_bar_patterns"))
    assert(rows(Graft.balanceOfPower(e, byKey(0), byKey(1), byKey(2),
      byKey(3)).orderBy(col("user_id").asc, col("day").asc)) == q("q_bop"))
    assert(rows(Graft.qualityRules(docs).orderBy(col("doc_id").asc))
      == q("q_gopher_rules"))
    assert(rows(Graft.volumeProfile(e, byKey(0), byKey(1), byKey(2),
      byKey(3), "k")) == q("q_volume_profile"))
    assert(rows(Graft.obvDivergence(e, byKey(0), byKey(1), byKey(2),
      byKey(3), "k")) == q("q_obv_divergence"))
    assert(rows(Graft.indexNav(e, byKey(0), byKey(1), byKey(2), byKey(3)))
      == q("q_index_nav"))
    assert(rows(Graft.turnover(e, byKey(0), byKey(1), byKey(2), byKey(3)))
      == q("q_turnover"))
    assert(rows(Graft.volumeBars(e, byKey(0), byKey(1), byKey(2), byKey(3),
      "k")) == q("q_volume_bars"))
    assert(rows(Graft.vpin(e, byKey(0), byKey(1), byKey(2), byKey(3), "k"))
      == q("q_vpin"))
    assert(rows(Graft.dollarBars(e, byKey(0), byKey(1), byKey(2), byKey(3),
      "k")) == q("q_dollar_bars"))
    assert(rows(Graft.langPrf(docs)) == q("q_lang_prf"))
  }

  test("Graft round-10 facades (hits / kalman / dtwMarket / permTest / " +
    "windowFunnel / sequenceMatch / pqAdc / bitemporal / rrfFusion / " +
    "mmrDiversify / clampedBalance / dupNgramCoverage / " +
    "distinctiveTokens / vocabOverlap) match their oracle-checked " +
    "queries") {
    val e = Tables.events(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.hits(Tables.lineitem(spark, sf0001).select(
      col("l_suppkey").as("src"), col("l_partkey").as("dst"))))
      == q("q_hits"))
    assert(rows(Graft.kalman(e, "user_id", "ts", "value", "event_id")
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_kalman"))
    assert(rows(Graft.dtwMarket(e, "user_id", "ts", "value", "event_id"))
      == q("q_dtw_market"))
    assert(rows(Graft.permTest(e, "user_id", "ts", "value", "event_id"))
      == q("q_perm_test"))
    assert(rows(Graft.windowFunnel(e)) == q("q_window_funnel"))
    assert(rows(Graft.sequenceMatch(e)) == q("q_sequence_match"))
    assert(rows(Graft.pqAdc(emb).orderBy(col("probe_id").asc,
      col("rank").asc)) == q("q_pq_adc"))
    assert(rows(Graft.bitemporal(e, "user_id", "ts", "value", "event_id"))
      == q("q_bitemporal"))
    assert(rows(Graft.rrfFusion(spark, sf0001)) == q("q_rrf_fusion"))
    assert(rows(Graft.mmrDiversify(emb)) == q("q_mmr_diversify"))
    assert(rows(Graft.clampedBalance(e, "user_id", "ts", "value",
      "event_id").orderBy(col("user_id").asc, col("day").asc))
      == q("q_clamped_balance"))
    assert(rows(Graft.dupNgramCoverage(docs)) == q("q_dup_ngram_coverage"))
    assert(rows(Graft.distinctiveTokens(docs)) == q("q_distinctive_tokens"))
    assert(rows(Graft.vocabOverlap(docs)) == q("q_vocab_overlap"))
  }

  test("Graft round-10 tail facades (pageHinkley / forecastEval / " +
    "hourDowGrid / knnEval / andersonDarling / splitBalance / cuped / " +
    "simhashNearDups) match their oracle-checked queries") {
    val e = Tables.events(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.pageHinkley(e, "user_id", "ts", "value", "event_id")
      .orderBy(col("user_id").asc, col("day").asc)) == q("q_page_hinkley"))
    assert(rows(Graft.forecastEval(e, "user_id", "ts", "value", "event_id"))
      == q("q_forecast_eval"))
    assert(rows(Graft.hourDowGrid(e)) == q("q_hour_dow_grid"))
    assert(rows(Graft.knnEval(emb)) == q("q_knn_eval"))
    assert(rows(Graft.andersonDarling(e, "event_type", "value", "click",
      "view")) == q("q_anderson_darling"))
    assert(rows(Graft.splitBalance(spark, sf0001)) == q("q_split_balance"))
    assert(rows(Graft.cuped(e, "user_id", "ts", "value", "event_id"))
      == q("q_cuped"))
    assert(rows(Graft.simhashNearDups(docs)
      .orderBy(col("id_a").asc, col("id_b").asc)) == q("q_simhash_d3"))
  }

  test("Graft round-11 facades (kcenter / curriculum / powerIteration) " +
    "match their oracle-checked queries") {
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.kcenter(emb)) == q("q_kcenter"))
    assert(rows(Graft.curriculum(docs)) == q("q_curriculum"))
    assert(rows(Graft.powerIteration(emb)) == q("q_power_iter"))
  }

  test("Graft round-11 second-sweep facades (eval / LM / drift / " +
    "graph / probe / bitext) match their oracle-checked queries") {
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.aucByGroup(
      docs.select(col("source"), col("n_chars").as("__score"),
        (col("lang") === "en").as("__pos")),
      "source", "__score", "__pos").orderBy(col("source").asc))
      == q("q_auc"))
    assert(rows(Graft.avgPrecision(docs)) == q("q_avg_precision"))
    assert(rows(Graft.calibrationTable(docs)) == q("q_calibration"))
    assert(rows(Graft.kneserNeyScores(docs).orderBy(col("doc_id").asc))
      == q("q_kneser_ney"))
    assert(rows(Graft.knContinuation(docs)) == q("q_kn_continuation"))
    assert(rows(Graft.mmdDrift(emb)) == q("q_mmd_drift"))
    assert(rows(Graft.mmdTopFeature(emb)) == q("q_mmd_top_feature"))
    assert(rows(Graft.modularity(emb)) == q("q_modularity"))
    assert(rows(Graft.labelCohesion(emb)) == q("q_label_cohesion"))
    assert(rows(Graft.centroidProbe(emb)) == q("q_centroid_probe"))
    assert(rows(Graft.centroidProbeEval(emb)) == q("q_probe_eval"))
    assert(rows(Graft.bitextMine(emb, docs)) == q("q_bitext_mine"))
    assert(rows(Graft.bitextMargin(emb, docs)) == q("q_bitext_margin"))
  }

  test("Graft round-11 second-sweep facades (causal / conformal / " +
    "sketch / sequential / governance) match their queries") {
    val e = Tables.events(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.did(e)) == q("q_did"))
    assert(rows(Graft.cohenKappa(docs)) == q("q_cohen_kappa"))
    assert(rows(Graft.conformal(docs)) == q("q_conformal"))
    assert(rows(Graft.conformalBySource(docs)) == q("q_conformal_sources"))
    assert(rows(Graft.amsF2(docs)) == q("q_ams_f2"))
    assert(rows(Graft.amsSketches(docs)) == q("q_ams_sketches"))
    assert(rows(Graft.sprt(e)) == q("q_sprt"))
    assert(rows(Graft.kAnonymity(docs)) == q("q_k_anonymity"))
    assert(rows(Graft.lDiversity(docs)) == q("q_l_diversity"))
    assert(rows(Graft.joinSizeEstimate(Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001))) == q("q_join_size_est"))
  }

  test("Graft round-11 second-sweep facades (yield / sampling / card " +
    "/ schedule / HLL / percolation) match their queries") {
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.pipelineYield(docs)) == q("q_pipeline_yield"))
    assert(rows(Graft.gateOverlap(docs)) == q("q_gate_overlap"))
    assert(rows(Graft.neymanAllocation(docs)) == q("q_neyman"))
    assert(rows(Graft.neymanEfficiency(docs)) == q("q_neyman_efficiency"))
    assert(rows(Graft.datasetCard(docs)) == q("q_dataset_card"))
    assert(rows(Graft.datasetCardByLang(docs)) == q("q_dataset_card_lang"))
    assert(rows(Graft.temperatureMix(docs)) == q("q_temperature_mix"))
    assert(rows(Graft.epochRanks(docs).filter(col("pos") <= 5)
      .orderBy(col("epoch").asc, col("pos").asc)) == q("q_epoch_order"))
    assert(rows(Graft.hllEstimate(docs)) == q("q_hll_estimate"))
    assert(rows(Graft.hllRegisters(docs)) == q("q_hll_registers"))
    assert(rows(Graft.percolation(emb)) == q("q_percolation"))
    assert(rows(Graft.degreeHubs(emb)) == q("q_degree_hubs"))
  }

  test("Graft third-sweep facades (valuation / privacy / encoding / " +
    "eval / paired tests) match their queries") {
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.knnShapley(emb)) == q("q_knn_shapley"))
    assert(rows(Graft.shapleyByLabel(emb)) == q("q_shapley_by_label"))
    assert(rows(Graft.tCloseness(docs)) == q("q_t_closeness"))
    assert(rows(Graft.tWorstClasses(docs)) == q("q_t_worst_classes"))
    assert(rows(Graft.woeIv(li)) == q("q_woe_iv"))
    assert(rows(Graft.targetEncode(li)) == q("q_target_encode"))
    assert(rows(Graft.liftDeciles(docs)) == q("q_lift_deciles"))
    assert(rows(Graft.brierDecomp(docs)) == q("q_brier_decomp"))
    assert(rows(Graft.mcnemar(docs)) == q("q_mcnemar"))
    assert(rows(Graft.cochranQ(docs)) == q("q_cochran_q"))
  }

  test("Graft third-sweep facades (association / normalization / " +
    "sampling / blocked ranks) match their queries") {
    val docs = Tables.documents(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.ordinalAssoc(o)) == q("q_ordinal_assoc"))
    assert(rows(Graft.theilU(docs)) == q("q_theil_u"))
    assert(rows(Graft.quantileNorm(docs)) == q("q_quantile_norm"))
    assert(rows(Graft.quantileNormMap(docs)) == q("q_quantile_norm_map"))
    assert(rows(Graft.horvitzThompson(li)) == q("q_horvitz_thompson"))
    assert(rows(Graft.jackknife(li)) == q("q_jackknife"))
    assert(rows(Graft.jackknifeSe(li)) == q("q_jackknife_se"))
    assert(rows(Graft.friedman(o)) == q("q_friedman"))
    assert(rows(Graft.friedmanRanks(o)) == q("q_friedman_ranks"))
  }

  test("Graft fourth-sweep facades (retrieval / vocab / sharding / " +
    "divergence / graph) match their queries") {
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    // truncate the deep IVF build plan before the iterative consumers
    val edges = queries.Breadth141.globalMutualEdges(emb).localCheckpoint()
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.firstHit(emb)) == q("q_first_hit"))
    assert(rows(Graft.mrr(emb)) == q("q_mrr"))
    assert(rows(Graft.vocabRichness(docs)) == q("q_vocab_richness"))
    assert(rows(Graft.captureRecapture(docs)) == q("q_capture_recapture"))
    assert(rows(Graft.rendezvous(docs)) == q("q_rendezvous"))
    assert(rows(Graft.rendezvousResize(docs)) == q("q_rendezvous_resize"))
    assert(rows(Graft.jsDivergence(docs)) == q("q_js_divergence"))
    assert(rows(Graft.medianOfMeans(li)) == q("q_median_of_means"))
    assert(rows(Graft.closeness(edges)) == q("q_closeness"))
    assert(rows(Graft.reachCurve(edges)) == q("q_reach_curve"))
    assert(rows(Graft.richClub(edges)) == q("q_rich_club"))
    assert(rows(Graft.localClustering(edges)) == q("q_local_clustering"))
  }

  test("Graft fourth-sweep facades (stylometry / calibration / " +
    "diversity / two-sample / causal / DP) match their queries") {
    val docs = Tables.documents(spark, sf0001)
    val e = Tables.events(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.styloProfile(docs)) == q("q_stylo_profile"))
    assert(rows(Graft.burrowsDelta(docs)) == q("q_burrows_delta"))
    assert(rows(Graft.isotonicCalibration(docs)) ==
      q("q_isotonic_calibration"))
    assert(rows(Graft.calibrationError(docs)) == q("q_calibration_error"))
    assert(rows(Graft.hillNumbers(docs)) == q("q_hill_numbers"))
    assert(rows(Graft.sourceEffective(docs)) == q("q_source_effective"))
    assert(rows(Graft.cvm(docs)) == q("q_cvm"))
    assert(rows(Graft.moodMedian(docs)) == q("q_mood_median"))
    assert(rows(Graft.synthControl(e)) == q("q_synth_control"))
    assert(rows(Graft.placebo(e)) == q("q_placebo"))
    assert(rows(Graft.dpHistogram(docs)) == q("q_dp_histogram"))
    assert(rows(Graft.dpUtility(docs)) == q("q_dp_utility"))
    assert(rows(Graft.propensityTable(e)) == q("q_propensity_table"))
    assert(rows(Graft.ipwAtt(e)) == q("q_ipw_att"))
  }

  test("Graft fifth-sweep facades (Good–Turing / RBO / LSH power / " +
    "sequential patterns) match their queries") {
    val docs = Tables.documents(spark, sf0001)
    val e = Tables.events(spark, sf0001)
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sf0001))
    assert(rows(Graft.goodTuring(docs)) == q("q_good_turing"))
    assert(rows(Graft.unseenMass(docs)) == q("q_unseen_mass"))
    assert(rows(Graft.lshPower(docs)) == q("q_lsh_power"))
    assert(rows(Graft.seqPatterns(e)) == q("q_seq_patterns"))
    // the RBO facade takes any two rank lists; pin it on the same pair
    // the query reads (exact brute top-5 vs PQ ADC top-5)
    val ex = SparkEntry.queries("q_embed_topk")(spark, sf0001)
      .select("probe_id", "rank", "neighbor_id")
    val ap = SparkEntry.queries("q_pq_adc")(spark, sf0001)
      .select("probe_id", "rank", "neighbor_id")
    assert(rows(Graft.rbo(ex, ap)) == q("q_rbo_pq"))
  }
}

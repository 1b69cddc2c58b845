package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Plan-shape assertions: the physical plans the 100 TB design depends on
  * must actually be chosen — filters reach the parquet scan, small dims
  * broadcast, top-K compiles to TakeOrderedAndProject, aggregates are
  * partial+final, latest-per-key window is a single shuffle. A correctness
  * pass with the wrong plan is a regression at scale; these tests pin the
  * plan. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = {
    df.count() // finalize AQE so codegen spans / final join choices appear
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString()
  }

  /** MARGINAL shuffle count: Exchange nodes in the executed tree, with
    * cached intermediates (InMemoryTableScan — the memoized day-bar /
    * day-vol grids, graft.store.Memo) as LEAVES. The plan STRING
    * also renders each InMemoryRelation's cached lineage (nested, so a
    * bars+vols query prints the chain's exchanges several times) — those
    * run once per session at chain materialization (pinned separately in
    * the chain test below and bench-attributed to chain_day_bars/vols),
    * not per query, so a regex over the string no longer measures what a
    * query COSTS. AQE wraps stages: unwrap adaptive roots and descend
    * through query stages to the real child plans. */
  private def exchanges(df: DataFrame, includeCached: Boolean)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    df.count()
    def walk(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec if includeCached =>
        walk(m.relation.cachedPlan)
      case e: ShuffleExchangeLike => e +: e.children.flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
  private def marginalExchanges(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] =
    exchanges(df, includeCached = false)
  private def marginalKeyExchanges(df: DataFrame, key: String): Int =
    marginalExchanges(df)
      .count(_.outputPartitioning.toString.contains(key))
  private def assertNoSinglePartitionShuffle(df: DataFrame, label: String): Unit =
    assert(!marginalExchanges(df).exists(
        _.outputPartitioning == org.apache.spark.sql.catalyst.plans.physical.SinglePartition),
      s"$label: must stay per-key distributed")

  test("q_history pushes both ts bounds and the key filter into the scan " +
    "(ns-domain via NanosPushdown on nano parquet, native on µs parquet)") {
    val p = plan(SparkEntry.queries("q_history")(spark, sf0001))
    assert(p.contains("PushedFilters:"), p.take(400))
    // the testdata has shipped events.ts as both TIMESTAMP(NANOS) (reads
    // as long ns under nanosAsLong — filters must be rewritten to the raw
    // ns column) and µs-precision naive parquet (reads as TIMESTAMP_NTZ —
    // filters push natively); assert the path matching the data on disk
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nanoTs = spark.read.parquet(s"$sf0001/events.parquet")
      .schema("ts").dataType == org.apache.spark.sql.types.LongType
    if (nanoTs) {
      // 18-digit ns epochs in the rewritten scan predicates
      assert("ts#\\d+L? >= \\d{15,}".r.findFirstIn(p).isDefined,
        "ts lower bound not in ns domain")
      assert("ts#\\d+L? < \\d{15,}".r.findFirstIn(p).isDefined,
        "ts upper bound not in ns domain")
    } else {
      // the PushedFilters display truncates at maxMetadataStringLength —
      // assert the bounds on the scan's DataFilters / pushed prefix
      assert(p.contains("GreaterThanOrEqual(ts,"),
        s"ts lower bound not pushed:\n${p.take(600)}")
      assert("ts#\\d+ < \\d{4}-".r.findFirstIn(p).isDefined,
        s"ts upper bound not in the scan filters:\n${p.take(600)}")
    }
    assert(p.contains("EqualTo(user_id,7"), "key filter not pushed")
    assert(p.contains("GreaterThanOrEqual(ts,"), "ts bound not in PushedFilters")
  }

  test("q_history scan reads only the projected columns") {
    val p = plan(SparkEntry.queries("q_history")(spark, sf0001))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), s"props not pruned: $readSchema")
    assert(!readSchema.contains("user_id") || readSchema.contains("event_id"))
  }

  test("q_join_dim broadcasts both dimension tables") {
    val p = plan(SparkEntry.queries("q_join_dim")(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(400))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_latest builds the latest-per-key join with a broadcast of (key, max_ts)") {
    val p = plan(SparkEntry.queries("q_latest")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q1_agg is a partial+final hash aggregate (map-side combine)") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, sf0001))
    assert(p.contains("HashAggregate"))
    assert("partial_sum|partial_count|isEmpty".r.findFirstIn(p).isDefined ||
      "HashAggregate".r.findAllIn(p).size >= 2, p.take(600))
  }

  test("top-K compiles to TakeOrderedAndProject, not a global sort") {
    import org.apache.spark.sql.functions._
    val top = Tables.orders(spark, sf0001)
      .orderBy(col("o_totalprice").desc).limit(7)
    assert(plan(top).contains("TakeOrderedAndProject"))
  }

  test("semi/anti joins plan as join types, not subquery re-scans") {
    val semi = plan(SparkEntry.queries("q_semi_join")(spark, sf0001))
    val anti = plan(SparkEntry.queries("q_anti_join")(spark, sf0001))
    assert(semi.contains("LeftSemi"), semi.take(300))
    assert(anti.contains("LeftAnti"), anti.take(300))
  }

  test("q_asof does one key shuffle for the window — no per-probe join") {
    val df = SparkEntry.queries("q_asof")(spark, sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    val keyShuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(keyShuffles <= 2, s"$keyShuffles key shuffles:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      "probe grid must come from a broadcast cross join, not a cartesian shuffle")
  }

  test("q_topk_other is one partial + final rollup over one scan: no cache, no anti-join") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, ScalaAggregator}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = SparkEntry.queries("q_topk_other")(spark, sf0001)
    df.collect() // count() would plan a different query; this finalizes AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"), p)
    assert(!p.contains("LeftAnti"), p)
    // the operators that run: AQE stages unwrapped, a reused exchange is
    // a leaf (its producer ran once, elsewhere in the tree)
    def ran(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => ran(a.executedPlan)
      case s: QueryStageExec => ran(s.plan)
      case r: ReusedExchangeExec => Seq(r)
      case o => o +: o.children.flatMap(ran)
    }
    val nodes = ran(df.queryExecution.executedPlan)
    val rollupModes = nodes.collect { case a: ObjectHashAggregateExec => a }
      .flatMap(_.aggregateExpressions)
      .collect { case e if (e.aggregateFunction match {
        case s: ScalaAggregator[_, _, _] => s.agg.isInstanceOf[graft.functions.TopKWithRest]
        case _ => false
      }) => e.mode }
    // one partial pass over the input; every final reads its shuffle
    // output directly (withPercentOfTotal's total re-reads it, reused)
    assert(rollupModes.count(_ == Partial) == 1, s"$rollupModes\n$p")
    assert(rollupModes.forall(m => m == Partial || m == Final), s"$rollupModes\n$p")
    assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) == 1, s"orders scanned more than once:\n$p")
  }

  test("q_simhash pairs join on band keys, not on the block column alone") {
    val df = SparkEntry.queries("q_simhash")(spark, sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    // the self-join keys must include the band decomposition — a join
    // keyed only on `source` is the quadratic-within-block shape
    assert(p.contains("band_idx") && p.contains("band_val"),
      s"band keys missing from join:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), "banded join must be hash-keyed")
  }

  test("q_embed_neardup candidates come from the (label, table, bucket) " +
    "LSH join, not an all-pairs label join") {
    // pin the RAW pair builder — the query reads the memoized parquet
    // store (a bare scan), so the LSH lineage lives in the builder the
    // bench's chain_embed_pairs line times
    val df = graft.sim.Similarity.cosineNearDupPairs(
      Tables.embeddings(spark, sf0001), "label",
      graft.queries.Extensions.CosThreshold)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bucket"), s"LSH bucket key missing:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), "prefilter join must be hash-keyed")
  }

  test("q_quality_filter scans the scored subtree once (persisted), " +
    "threshold side included") {
    val df = SparkEntry.queries("q_quality_filter")(spark, sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"scored frame not persisted — text pipeline would run twice:\n${p.take(600)}")
  }

  test("q_contamination eval-vs-train check is a semi join over the " +
    "posting list") {
    val df = SparkEntry.queries("q_contamination")(spark, sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("NanosPushdown is a no-op under a non-UTC session timezone " +
    "(the NTZ-cast unwrap is only value-preserving at UTC)") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val p = SparkEntry.queries("q_history")(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert("ts#\\d+L? >= \\d{15,}".r.findFirstIn(p).isEmpty,
        s"ns-domain rewrite must not fire under non-UTC tz:\n${p.take(400)}")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("q_bucketed_join reads co-located buckets: SMJ with NO exchange on " +
    "either join input") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(600))
    // both scans must carry the bucket layout (8 of 8 selected)
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"join inputs not bucketed scans:\n${p.take(1200)}")
    // everything BELOW the join (printed after it) must be shuffle-free:
    // the bucket layout replaces the exchange on both inputs; the only
    // exchanges allowed in the whole plan are the post-join re-key for
    // the segment aggregate and the final order-by
    val below = p.split("SortMergeJoin", 2)(1)
    assert(!below.contains("Exchange"),
      s"join input shuffled despite bucketing:\n${p.take(1600)}")
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(1600))
  }

  test("q_history_partitioned prunes store partitions by event_date and " +
    "pushes the key filter") {
    val df = SparkEntry.queries("q_history_partitioned")(spark, sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    // the day-range must land on the PARTITION column (directory pruning),
    // not only as a row-level filter
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_date"),
      s"event_date bounds not in PartitionFilters:\n${p.take(800)}")
    assert("event_date#\\d+ >=".r.findFirstIn(pf).isDefined &&
      "event_date#\\d+ <=".r.findFirstIn(pf).isDefined,
      s"both day bounds must prune partitions: $pf")
    // key equality + row-level ts bounds still reach the parquet reader
    assert(p.contains("EqualTo(user_id,7"), "key filter not pushed")
    // and the scan must actually have skipped non-selected days: 16
    // selected dates at most out of the ~40+ the store holds (scans hide
    // under the AQE wrapper / materialized query stages — unwrap)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scanPartitionCounts(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => scanPartitionCounts(a.executedPlan)
      case q: QueryStageExec => scanPartitionCounts(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.selectedPartitions.partitionCount.toLong)
      case other => other.children.flatMap(scanPartitionCounts)
    }
    val scanned = scanPartitionCounts(df.queryExecution.executedPlan)
    assert(scanned.nonEmpty && scanned.forall(n => n > 0 && n <= 16),
      s"expected <= 16 pruned store partitions, scanned $scanned")
  }

  test("q_lateral_topn decorrelates to a rank-limited window join, not a " +
    "per-row re-scan") {
    val p = plan(SparkEntry.queries("q_lateral_topn")(spark, sf0001))
    // WindowGroupLimit = the partial per-group top-k pushed below the
    // shuffle; a correlated re-scan would plan a CartesianProduct or a
    // nested-loop join
    assert(p.contains("WindowGroupLimit"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_gaps_islands shares ONE hash exchange across distinct, window, " +
    "and both aggregates") {
    val p = plan(SparkEntry.queries("q_gaps_islands")(spark, sf0001))
    // hash(user_id) satisfies the (user_id, day) distinct clustering AND
    // the window/aggregate requirements downstream; only the final
    // presentation sort adds a range exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(800))
    assert(p.contains("Window"))
  }

  test("q_bigram_merges plans TakeOrderedAndProject over a partial+final " +
    "hash aggregate — no global sort of the pair counts") {
    val p = plan(SparkEntry.queries("q_bigram_merges")(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(600))
    assert(p.contains("partial_count"), "pair counts not map-side partial")
  }

  test("q_fuzzy_match joins on the blocking keys — never a cartesian " +
    "all-pairs distance matrix") {
    val p = plan(SparkEntry.queries("q_fuzzy_match")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("p_brand") && p.contains("p_size"))
  }

  test("q_interval_join pairs intervals through the day-bucket hash join — " +
    "never an all-pairs nested loop") {
    val p = plan(SparkEntry.queries("q_interval_join")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("q_pmi_cooccur's top-20 is a TakeOrderedAndProject over the capped " +
    "pair aggregate — no global sort of the pair space") {
    val p = plan(SparkEntry.queries("q_pmi_cooccur")(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q_partition_stats reads ONLY the partition column — zero data " +
    "columns leave the store scan") {
    val p = plan(SparkEntry.queries("q_partition_stats")(spark, sf0001))
    val storeScans = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("event_date"))
      .toSeq
    assert(storeScans.nonEmpty, p.take(800))
    // the per-day count needs no data column: the scan's projected
    // schema is exactly [event_date] (a directory-listing-shaped read)
    assert(storeScans.exists(_.contains("FileScan parquet [event_date#")),
      storeScans.mkString("\n"))
    assert(!p.contains("ts#"), "store read should never touch ts")
  }

  test("q_time_travel never replays the event log: generation scans " +
    "join with no window over events") {
    val p = plan(SparkEntry.queries("q_time_travel")(spark, sf0001))
    assert(!p.contains("Window"), "time travel re-derived state with a " +
      "window — the generations should be read, not recomputed")
    assert("FileScan parquet \\[user_id".r.findAllIn(p).size == 2,
      "expected exactly the two generation scans")
  }

  test("whole-stage codegen covers the q1_agg pipeline") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q1_agg")(spark, sf0001)
    df.collect()
    val ep = df.queryExecution.executedPlan
    val finalPlan = ep match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // codegen spans render as "*(n)" prefixes; the scan→filter→project→
    // partial-agg pipeline must share one span (*(1) appears on each)
    val spans = "\\*\\(\\d+\\)".r.findAllIn(finalPlan.toString).toSet
    assert(spans.size >= 2, finalPlan.toString.take(600))
  }

  test("wave-10 window cascades (drawdown / rsi / sma_cross) shuffle the " +
    "series key exactly once — every window reuses the same partitioning") {
    for (q <- Seq("q_drawdown", "q_rsi", "q_sma_cross")) {
      val p = plan(SparkEntry.queries(q)(spark, sf0001))
      val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
      assert(hashEx == 1, s"$q: expected 1 user_id hash exchange, got $hashEx\n${p.take(800)}")
    }
  }

  test("q_benford prunes the orders scan to the price column and " +
    "broadcasts the scalar denominator — no data-sized join or sort") {
    val p = plan(SparkEntry.queries("q_benford")(spark, sf0001))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_totalprice") && !readSchema.contains("o_orderdate"),
      s"scan not pruned to the price column: $readSchema")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(600))
  }

  test("wave-11/12 series screens (cusum / realized_vol / tick_health / twap) " +
    "shuffle the series key exactly once") {
    for (q <- Seq("q_cusum", "q_realized_vol", "q_tick_health")) {
      val p = plan(SparkEntry.queries(q)(spark, sf0001))
      val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
      assert(hashEx == 1, s"$q: expected 1 user_id hash exchange, got $hashEx\n${p.take(800)}")
    }
    // twap partitions by (key, day) — still a single hash exchange
    val p = plan(SparkEntry.queries("q_twap")(spark, sf0001))
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx == 1, s"q_twap: expected 1 hash exchange, got $hashEx\n${p.take(800)}")
  }

  test("wave-19 EMA recurrences: day-bar build + per-key fold shuffle the " +
    "series key at most twice and never through a single-partition stage " +
    "(the recurrence itself is executor-local per key)") {
    for (q <- Seq("q_ema", "q_macd", "q_rsi_wilder")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      // the bar grid + fold arrays are memoized (chain-pinned below), so
      // the marginal plan is explode-over-cache; the orderBy adds a
      // range exchange only — and NO SinglePartition stage anywhere
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 2, s"$q: expected <=2 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-20 microstructure measures stay key-distributed: no " +
    "single-partition stage, roll/sharpe shuffle the series key at most twice") {
    for (q <- Seq("q_roll_spread", "q_sharpe")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 2, s"$q: expected <=2 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
    // beta joins the day-grid market frame — still no single-partition stage
    assertNoSinglePartitionShuffle(SparkEntry.queries("q_beta")(spark, sf0001),
      "q_beta")
  }

  test("q_hash_sample's per-stratum top-k is a WindowGroupLimit — no full " +
    "per-group materialization survives to the sort") {
    val p = plan(SparkEntry.queries("q_hash_sample")(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("q_pair_corr filters bars through a BROADCAST top-keys semi-join and " +
    "keeps the pair join hash-keyed on the day grid") {
    val p = plan(SparkEntry.queries("q_pair_corr")(spark, sf0001))
    assert(p.contains("LeftSemi"), p.take(800))
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"),
      s"top-keys filter must broadcast N ids, not shuffle the bar table:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      "the pair join must key on the day grid, never cross")
  }

  test("q_gini and q_ks_drift run their single-partition ECDF/rank window " +
    "over the aggregated frame, never over raw event rows") {
    for (q <- Seq("q_gini", "q_ks_drift")) {
      val p = plan(SparkEntry.queries(q)(spark, sf0001))
      // the SinglePartition exchange must consume a HashAggregate (the
      // |keys|- or |distinct-values|-sized frame), not a file scan
      val idx = p.indexOf("Exchange SinglePartition")
      assert(idx >= 0, s"$q: no single-partition window stage\n${p.take(800)}")
      val below = p.substring(idx)
      assert(below.contains("HashAggregate"),
        s"$q: single-partition window not fed by an aggregate\n${p.take(800)}")
    }
  }

  test("wave-21 channel/oscillator indicators shuffle the series key at " +
    "most twice and never through a single-partition stage") {
    for (q <- Seq("q_donchian", "q_williams_r", "q_vortex", "q_cci")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      // bar build rides the memoized grid; one key exchange for the
      // indicator window; the orderBy adds a range exchange only
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 2, s"$q: expected <=2 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
    // mfi adds the (key, day) quantity equi-join — still key-distributed
    assertNoSinglePartitionShuffle(SparkEntry.queries("q_mfi")(spark, sf0001),
      "q_mfi")
  }

  test("q_ichimoku, q_aroon and q_ulcer window per key like the wave-21 " +
    "indicators: <=2 key exchanges, no single-partition stage") {
    for (q <- Seq("q_ichimoku", "q_aroon", "q_ulcer")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 2, s"$q: expected <=2 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("q_adx, q_tsi, q_supertrend and q_heikin_ashi fold per key like " +
    "the EMA family: <=2 key exchanges, no single-partition stage") {
    for (q <- Seq("q_adx", "q_tsi", "q_supertrend", "q_heikin_ashi")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 2, s"$q: expected <=2 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("q_pagerank_int truncates every iteration's lineage to a " +
    "checkpointed rank frame — the final plan is a sort over a LogicalRDD, " +
    "never the unrolled 5-deep join tree") {
    val p = plan(SparkEntry.queries("q_pagerank_int")(spark, sf0001))
    // the rank frame the query sorts is the last iteration's local
    // checkpoint: its plan shows ONLY the checkpoint scan — the join/agg
    // machinery of the five iterations ran as bounded per-iteration jobs
    // and must not survive into (= be re-derivable from) the final plan
    assert(p.contains("Scan ExistingRDD"), p.take(800))
    for (bad <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "InMemoryTableScan"))
      assert(!p.contains(bad), s"$bad leaked into the final plan\n${p.take(800)}")
  }

  test("q_embed_quant broadcasts the probe side like the other ANN " +
    "queries — never a shuffled cartesian") {
    val p = plan(SparkEntry.queries("q_embed_quant")(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q_feat_hash aggregates with a map-side partial and exactly one " +
    "(doc, bucket) exchange — the hashing trick is one pass") {
    val p = plan(SparkEntry.queries("q_feat_hash")(spark, sf0001))
    assert(p.contains("partial_sum"), s"no map-side partial\n${p.take(800)}")
    val hashEx = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(hashEx === 1, s"expected 1 (doc,bucket) exchange, got $hashEx\n${p.take(800)}")
  }

  test("wave-25 risk statistics stay key-distributed: <=3 key exchanges " +
    "(bars, rank windows, final fold), no single-partition stage") {
    for (q <- Seq("q_var_es", "q_spearman", "q_kendall", "q_hurst")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 3, s"$q: expected <=3 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("q_mode ranks over the (type, value) COUNT table — the window input " +
    "is an aggregate, and the aggregate has a map-side partial") {
    val p = plan(SparkEntry.queries("q_mode")(spark, sf0001))
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side partial under the mode window\n${p.take(800)}")
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
  }

  test("q_string_agg and q_bitwise_agg are single-exchange hash aggregates " +
    "with map-side partials") {
    for ((q, key) <- Seq("q_string_agg" -> "user_id",
        "q_bitwise_agg" -> "event_type")) {
      val p = plan(SparkEntry.queries(q)(spark, sf0001))
      assert(p.contains("partial_"), s"$q: no map-side partial\n${p.take(800)}")
      assert(!p.contains("Exchange SinglePartition"), s"$q\n${p.take(800)}")
    }
  }

  test("q_kmeans assigns through BROADCAST centroid joins — never a " +
    "shuffled cartesian — and the update aggregate has a map-side partial") {
    val p = plan(SparkEntry.queries("q_kmeans")(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_"), s"no map-side partial in update\n${p.take(800)}")
  }

  test("wave-28 volume-flow indicators stay key-distributed: <=3 key " +
    "exchanges (bar build, vol join, window/fold), no single-partition " +
    "stage") {
    for (q <- Seq("q_cmf", "q_dpo", "q_force_index", "q_adl_chaikin")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 3, s"$q: expected <=3 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-29 adaptive-momentum folds stay key-distributed: <=3 key " +
    "exchanges, no single-partition stage") {
    for (q <- Seq("q_nvi_pvi", "q_trix", "q_kama", "q_mass_index")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 3, s"$q: expected <=3 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-30 volatility estimators stay key-distributed (<=3 key " +
    "exchanges, no single-partition stage) and q_herfindahl aggregates " +
    "over the per-key totals with map-side partials") {
    for (q <- Seq("q_parkinson", "q_garman_klass", "q_kyle_lambda")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 3, s"$q: expected <=3 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
    val p = plan(SparkEntry.queries("q_herfindahl")(spark, sf0001))
    assert(p.contains("partial_"), s"no map-side partial\n${p.take(800)}")
  }

  test("wave-31 stop-and-reverse / normalized-momentum queries stay " +
    "key-distributed: <=3 key exchanges (bar build, fold/window), no " +
    "single-partition stage") {
    for (q <- Seq("q_psar", "q_stoch_rsi", "q_cmo", "q_sortino", "q_roc",
        "q_pivot_points")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 3, s"$q: expected <=3 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-32 weighted-MA / ratio / drawdown-anatomy queries stay " +
    "key-distributed (<=3 key exchanges, no single-partition stage); " +
    "q_bigram_lm joins bigrams against corpus counts with a broadcast " +
    "scalar and no cartesian") {
    for (q <- Seq("q_wma", "q_hma", "q_omega", "q_calmar", "q_dd_duration")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 3, s"$q: expected <=3 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
    val p = plan(SparkEntry.queries("q_bigram_lm")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus scalar not broadcast\n${p.take(800)}")
  }

  test("wave-33: the tolerance as-of still plans the single-pass native " +
    "merge (one exchange per side, no per-probe scan); choppiness and " +
    "fisher stay key-distributed") {
    val native = SparkEntry.queries("q_asof_tol_native")(spark, sf0001)
    val p = plan(native)
    assert(p.contains("AsofJoin"), s"native exec not planned\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
    for (q <- Seq("q_choppiness", "q_fisher")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 3, s"$q: expected <=3 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-34 integer-ratio oscillators stay key-distributed (<=3 key " +
    "exchanges, no single-partition stage)") {
    for (q <- Seq("q_rvi", "q_ultimate_osc", "q_vhf", "q_streak",
        "q_connors_rsi", "q_zigzag", "q_rolling_beta")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 3, s"$q: expected <=3 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("the memoized day-bar / day-vol / bar-array chain builds with " +
    "bounded key exchanges and no single-partition stage — the one-time " +
    "cost every indicator query amortizes (bench lines chain_day_bars / " +
    "chain_day_vols)") {
    val ev = Tables.events(spark, sf0001)
    // pin the RAW grid builders: the memoized accessors now return a
    // parquet scan of the materialized store (zero exchanges by
    // construction), so the chain's real lineage lives in the *Plan
    // variants — the same plans the bench's chain lines time
    val bars = graft.queries.Breadth13.dayBarsCentsPlan(
      ev, "user_id", "ts", "value", "event_id")
    val barsEx = exchanges(bars, includeCached = true)
    assert(barsEx.count(_.outputPartitioning.toString.contains("user_id")) <= 2,
      "bar grid: window + aggregate should share the (key, day) partitioning")
    assert(!barsEx.exists(_.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition))
    val vols = graft.queries.Breadth27.dayVolsPlan(ev, "user_id", "ts", "k")
    val volsEx = exchanges(vols, includeCached = true)
    assert(volsEx.count(_.outputPartitioning.toString.contains("user_id")) <= 1,
      "day-vol grid: one (key, day) aggregate exchange")
    assert(!volsEx.exists(_.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition))
    val arr = graft.ops.Recurrence.barArrays(
      ev, "user_id", "ts", "value", "event_id")
    assert(!exchanges(arr, includeCached = true).exists(_.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition))
  }

  test("wave-44/50 kNN-graph analytics: the edge chain is a within-label " +
    "equi-join and every graph query stays distributed with no cartesian") {
    val edges = graft.queries.Breadth43.knnEdgesPlan(
      Tables.embeddings(spark, sf0001))
    val ep = plan(edges)
    assert(!ep.contains("CartesianProduct"), ep.take(600))
    assert(!ep.contains("BroadcastNestedLoopJoin"),
      s"kNN scoring must be the label equi-join\n${ep.take(600)}")
    for (q <- Seq("q_knn_triangles", "q_link_predict")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$q\n${p.take(600)}")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: all graph joins are node-id equi-joins\n${p.take(600)}")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-45 count-min: the cell build aggregates partial+final and " +
    "the probe lookup broadcasts the 256-cell table") {
    val df = SparkEntry.queries("q_count_min")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"cell lookup should broadcast\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"sketch build must map-side combine\n${p.take(800)}")
  }

  test("wave-46/48 trend + risk queries stay key-distributed (<=4 key " +
    "exchanges, no single-partition stage, no cartesian)") {
    for (q <- Seq("q_theil_sen", "q_var_backtest", "q_vol_cone")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$q\n${p.take(600)}")
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 4, s"$q: expected <=4 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-49 novelty: the first-occurrence table is a distributed " +
    "shingle aggregate, never single-partition") {
    for (q <- Seq("q_novelty", "q_source_redundancy")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      assert(!plan(df).contains("CartesianProduct"), q)
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-51 phash near-dup: candidates come from the band equi-join " +
    "— no cartesian, no nested-loop") {
    val df = SparkEntry.queries("q_phash_neardup")(spark, sf0001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("wave-52/53/55/57/58 bar-family queries stay key-distributed " +
    "(<=4 key exchanges, no single-partition stage, no cartesian)") {
    for (q <- Seq("q_sax", "q_three_bar_patterns", "q_bop",
        "q_volume_profile", "q_obv_divergence", "q_volume_bars", "q_vpin",
        "q_dollar_bars")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      assert(!plan(df).contains("CartesianProduct"), q)
      val hashEx = marginalKeyExchanges(df, "user_id")
      assert(hashEx <= 4, s"$q: expected <=4 key hash exchanges, got $hashEx")
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("wave-56 portfolio cross-sections: day-distributed aggregates; " +
    "q_index_nav's only single-partition stage is the aggregate-sized " +
    "day-table lag (the q_ks_drift precedent)") {
    val nav = SparkEntry.queries("q_index_nav")(spark, sf0001)
    assert(!plan(nav).contains("CartesianProduct"))
    val to = SparkEntry.queries("q_turnover")(spark, sf0001)
    val p = plan(to)
    assert(!p.contains("CartesianProduct"), p.take(600))
    assertNoSinglePartitionShuffle(to, "q_turnover")
  }

  test("wave-54/59 corpus gates: rules and lang-eval stay distributed " +
    "with no cartesian") {
    for (q <- Seq("q_gopher_rules", "q_rule_attrition", "q_lang_confusion",
        "q_lang_prf", "q_novelty")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      assert(!plan(df).contains("CartesianProduct"), q)
    }
  }

  test("q_dsir joins doc tokens against the vocab-sized term table with " +
    "broadcast scalar totals — no single-partition stage except the " +
    "scalar aggregates themselves") {
    val p = plan(SparkEntry.queries("q_dsir")(spark, sf0001))
    // the two corpus-total scalars are one-row frames; everything else
    // must stay distributed: no cartesian over data-sized inputs
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2,
      s"scalar totals not broadcast\n${p.take(800)}")
  }
  test("waves 71-80: move-grid analytics stay key-distributed with no " +
    "cartesian; corpus tests aggregate before any window") {
    for (q <- Seq("q_info_ratio", "q_acf", "q_jarque_bera", "q_tail_ratio",
        "q_ewma_vol", "q_qstick", "q_fractals", "q_jensen_alpha", "q_xcf",
        "q_hill_tail", "q_gap_fill", "q_kelly", "q_capture_ratio",
        "q_pain_index", "q_trend_r2", "q_vol_regime", "q_sign_entropy",
        "q_weekday_effect")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      assert(!plan(df).contains("CartesianProduct"), q)
    }
    // corpus-side: one token explode, |vocab|/|values|-bounded joins,
    // no cartesian over data-sized inputs (the scalar totals broadcast)
    for (q <- Seq("q_kl_source", "q_simpson_diversity", "q_mann_whitney",
        "q_length_quartiles", "q_ttr_window", "q_weighted_sample",
        "q_theil_index", "q_assortativity")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      assert(!plan(df).contains("CartesianProduct"), q)
    }
    // the per-doc work of ttr_window is map-only: zero exchanges beyond
    // the terminal sort
    val ttr = SparkEntry.queries("q_ttr_window")(spark, sf0001)
    assert(marginalExchanges(ttr).size <= 1,
      s"q_ttr_window grew a shuffle beyond the terminal sort")
  }

  test("waves 98-100 TPC-H skeletons: dims broadcast, facts collapse " +
    "before dim joins, top-k via TakeOrdered, no cartesian") {
    for (q <- Seq("q_volume_shipping", "q_market_share", "q_custdist",
        "q_priority_delay", "q_min_cost_supplier", "q_product_profit",
        "q_top_supplier", "q_small_qty_revenue", "q_supplier_part_counts",
        "q_excess_shippers", "q_waiting_suppliers", "q_idle_customers")) {
      val p = plan(SparkEntry.queries(q)(spark, sf0001))
      assert(!p.contains("CartesianProduct"), q)
    }
    // the heavy dim chains go broadcast, never shuffled-hash both sides
    for (q <- Seq("q_market_share", "q_product_profit")) {
      val p = plan(SparkEntry.queries(q)(spark, sf0001))
      assert(p.contains("BroadcastHashJoin"), q)
    }
    // Q21 never builds row pairs: the verdict grain is (order, supplier)
    // flags — bounded exchanges, no nested loop over lineitem
    val ws = SparkEntry.queries("q_waiting_suppliers")(spark, sf0001)
    assert(marginalExchanges(ws).size <= 6,
      "q_waiting_suppliers shuffle count grew")
    // the top-k surfaces as TakeOrderedAndProject, not a global sort
    val bm = SparkEntry.queries("q_bm25")(spark, sf0001)
    assert(plan(bm).contains("TakeOrderedAndProject"), "q_bm25 top-k")
  }

  test("waves 101-105 stats/bands: group- or day-partitioned count-table " +
    "windows, no single-partition stage, no cartesian") {
    for (q <- Seq("q_iqr_outliers", "q_trimmed_mean", "q_percentile_bands",
        "q_tail_dependence", "q_rolling_median", "q_beta_downside")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), q)
      assertNoSinglePartitionShuffle(df, q)
    }
  }

  test("waves 117-124: broadcast small sides, no cartesian, key-" +
    "distributed heavy stages") {
    // no unbounded cartesian anywhere in the new tier (the bitemporal
    // probe grid and the PQ probe-dot table ride as broadcasts)
    for (q <- Seq("q_hits", "q_window_funnel", "q_sequence_match",
        "q_perm_test", "q_pq_adc", "q_bitemporal", "q_dup_ngram_coverage",
        "q_kalman", "q_clamped_balance", "q_dtw_market")) {
      val p = plan(SparkEntry.queries(q)(spark, sf0001))
      assert(!p.contains("CartesianProduct"), q)
    }
    // the funnel is ONE user-keyed aggregate over the scan plus the
    // |levels|-sized histogram — the per-user greedy never shuffles pairs
    val wf = SparkEntry.queries("q_window_funnel")(spark, sf0001)
    assert(marginalExchanges(wf).size <= 3, "q_window_funnel shuffles grew")
    assertNoSinglePartitionShuffle(
      SparkEntry.queries("q_perm_test")(spark, sf0001), "q_perm_test")
    // PQ ADC scores against BROADCAST probe-dot / codebook tables — the
    // corpus side never lands in a shuffled-hash build. Pin the RAW
    // shortlist builder: the query itself reads the memoized parquet
    // store (a bare scan by construction), so the chain's real plan
    // lives in pqShortlistPlan — the same plan the bench chain line times
    val pq = plan(graft.queries.Breadth121.pqShortlistPlan(
      Tables.embeddings(spark, sf0001)))
    assert(pq.contains("BroadcastHashJoin"), "q_pq_adc broadcast lookup")
  }
}

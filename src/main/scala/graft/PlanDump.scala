package graft
import graft.store.Memo
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Formatted physical plans — the artifact of the explain-and-iterate
  * loop (pushdown, broadcast, partial agg, TakeOrderedAndProject are
  * asserted in PlanSpec; the dumps make them reviewable).
  *
  *  - no args: writes PLANS.md with the flagship queries at sf0.001;
  *  - `outDir suffix key,key,... [sfDir]`: writes
  *    `<outDir>/<key>_<suffix>.txt` per key — the before/after evidence
  *    committed under plans/. A key is a query name or one of the
  *    [[internals]], plans only the direct API shows.
  *
  * Runs on one session shape (local[4], 4 shuffle partitions) so before
  * and after files are comparable across trees. */
object PlanDump {
  private val flagship = Seq("q_latest", "q_history", "q1_agg", "q_topk_other",
    "q_join_multi", "q_asof", "q_dedup_minhash", "q_embed_topk",
    // round-2 scale reworks: banded simhash pairing, LSH-prefiltered
    // embedding near-dups, single-scan quality filter, inverted-index
    // contamination
    "q_simhash", "q_embed_neardup", "q_quality_filter", "q_contamination",
    // round-3 additions: partition-pruned store read, ANN recall
    // report, centroid outlier screen, repetition signals
    "q_history_partitioned", "q_embed_ann_lsh", "q_embed_outliers",
    "q_repetition", "q_lateral_topn", "q_salted_agg", "q_packing",
    "q_ohlc",
    // round-4 additions: single-exchange islands, aggregate-sized
    // skyline, generation-scan time travel, partition-only store
    // stats, blocked fuzzy match, BPE merge candidates
    "q_gaps_islands", "q_skyline", "q_time_travel", "q_partition_stats",
    "q_fuzzy_match", "q_bigram_merges",
    // round-6 additions: parse-once variant extraction; bucketed
    // interval join, capped-vocab PMI, near-dup-graph PageRank
    "q_variant_extract", "q_interval_join", "q_pmi_cooccur", "q_pagerank",
    // wave-10 additions: single-exchange price-series windows, pruned
    // Benford scan + broadcast denominator, decay trending
    "q_drawdown", "q_sma_cross", "q_benford", "q_decay_trend",
    // native whole-plan operator: co-partitioned single-pass as-of
    // merge (AsofJoinExec); contrast with q_asof's union+window form
    "q_asof_native",
    // wave-11/12 additions: aggregate-fed single-partition ECDF
    // window, WindowGroupLimit sampling, dwell-weighted TWAP cascade
    "q_ks_drift", "q_hash_sample", "q_twap",
    // wave-13/14 additions: bar-table pattern lags, broadcast top-N
    // semi-join ahead of the day-grid correlation pair join
    "q_candle_patterns", "q_pair_corr",
    // wave-19/20 additions: per-key calendar-bounded recurrence folds
    // (two key exchanges, no single-partition stage), day-grid market
    // beta, serial-covariance spread estimator
    "q_ema", "q_macd", "q_rsi_wilder", "q_keltner", "q_beta",
    "q_roll_spread",
    // wave-21/22/23 additions: window-form channel indicators (one bar
    // build + one key window), the ADX recurrence fold, integer
    // PageRank (persisted edges + broadcast dangling mass), int8
    // quantized ANN, hashing-trick featurization
    "q_donchian", "q_mfi", "q_adx", "q_pagerank_int", "q_embed_quant",
    "q_feat_hash",
    // wave-24 additions: double-smoothed momentum + ratcheted-band
    // recurrence folds (same two-exchange shape as the EMA family)
    "q_tsi", "q_supertrend",
    // wave-25 additions: chart-overlay completions — displaced-window
    // cloud, list-over-window scans, and the dyadic candle recurrence
    "q_ichimoku", "q_aroon", "q_heikin_ashi", "q_ulcer",
    // round-8 waves: exact-order-statistic tail risk, merge-sort
    // Kendall, scaled-prefix-sum R/S; SQL-surface aggregate
    // completions; broadcast-centroid quantized k-means + vocab-table
    // DSIR; quantized volume-flow windows and recurrence folds
    "q_var_es", "q_kendall", "q_hurst", "q_mode", "q_regr",
    "q_kmeans", "q_dsir", "q_cmf", "q_force_index", "q_adl_chaikin",
    // wave-29: volume-gated and adaptive recurrence folds
    "q_nvi_pvi", "q_kama", "q_mass_index",
    // wave-30: log-range volatility + impact regression
    "q_parkinson", "q_kyle_lambda",
    // round-9: the Manku d=3 simhash operating point, the Recurrence
    // combinator's template indicator (marginal plan = explode over
    // the memoized bar-array cache)
    "q_simhash_d3", "q_dema",
    // waves 31/32: the regime-switching PSAR fold, window-over-fold
    // StochRSI, gaps-and-islands drawdown anatomy on the bar grid,
    // and the bigram-LM join pipeline (doc bigrams × corpus counts)
    "q_psar", "q_stoch_rsi", "q_dd_duration", "q_bigram_lm",
    // waves 34-38: the three-recurrence Connors composite (one fold),
    // the all-integer zigzag fold, the windowed-co-moment rolling
    // beta, and the tolerance-bounded native as-of merge
    "q_connors_rsi", "q_zigzag", "q_rolling_beta", "q_asof_tol_native",
    // waves 44-54: compact-forward triangles over the memoized kNN
    // edge chain, the 256-cell count-min build + broadcast probe,
    // the calendar-bounded Theil-Sen pair join, the banded phash
    // near-dup, and the single-pass quality-rules gate
    "q_knn_triangles", "q_count_min", "q_theil_sen", "q_phash_neardup",
    "q_gopher_rules",
    // waves 55-64: the tick-level volume-bucket windows, the basket
    // pair join, and the quintile-scored customer aggregate
    "q_volume_bars", "q_vpin", "q_market_basket", "q_rfm",
    // waves 71-82: the cross-sectional-median information ratio, the
    // stacked-lag correlogram, the gaps×bars fill join, the
    // value-table Mann-Whitney ranks, and the microbit-quantized
    // KL drift
    "q_info_ratio", "q_acf", "q_gap_fill", "q_mann_whitney",
    "q_kl_source", "q_jensen_alpha", "q_ewma_vol", "q_dup_inflation",
    // round-9 waves: warehouse join skeletons (order-grain pre-agg +
    // broadcast dims + TakeOrderedAndProject), the |domain|-bounded
    // Kruskal rank build, the sweep-line concurrency deltas, the
    // tiny-matrix integer Markov fold, the wedge-generated bipartite
    // projection, the RAKE phrase pipeline, and the decimal-exact
    // changepoint argmax
    "q_nation_revenue", "q_segment_backlog", "q_kruskal",
    "q_order_concurrency", "q_markov_stationary", "q_bipartite_proj",
    "q_rake_keywords", "q_changepoint")

  /** Plans the facade hides: its queries root at the final
    * localCheckpoint / memo boundary (LogicalRDD / store scan), so the
    * iteration joins and builds behind them are only visible here, built
    * the way the loops build them. */
  private def internals(s: SparkSession, dir: String): Map[String, () => DataFrame] = {
    // PageRank iteration: bucketed edge store on src, memoized outdeg;
    // the contribs join + dst groupBy exactly as the loop builds it (the
    // rank frame stands in for generation k)
    def prEdgesRaw = Tables.lineitem(s, dir).select(
      (col("l_suppkey") * 2L).as("src"),
      (col("l_partkey") * 2L + 1L).as("dst"))
    def bucketedDistinct(raw: DataFrame, name: String): DataFrame =
      Memo(raw, name) {
        val dist = Memo.write(raw.select(col("src"), col("dst")).distinct())
        Memo.writeBucketed(dist, "src", Memo.bucketsForRows(dist.count()))
      }
    def pr(): DataFrame = {
      val raw = prEdgesRaw
      val edges = bucketedDistinct(raw, "pr_edges_bsrc")
      val outdeg = Memo(raw, "pr_outdeg") {
        edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      }
      val r0 = edges.select(col("src").as("node")).distinct()
        .withColumn("r", lit(1000000000L))
      r0.join(outdeg, r0("node") === outdeg("src"))
        .select(col("node"), expr("(17 * r) div (20 * od)").as("ct"))
        .join(edges, col("node") === edges("src"))
        .groupBy(col("dst")).agg(sum(col("ct")).as("s"))
    }
    // HITS passes: the src-bucketed orientation joined by the hub
    // scores, the dst-bucketed one by the authority scores
    def hitsEdges(): (DataFrame, DataFrame) = {
      val raw = Tables.lineitem(s, dir).select(
        concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst"))
      val bySrc = bucketedDistinct(raw, "hits_edges_bsrc")
      val byDst = Memo(raw, "hits_edges_bdst") {
        Memo.writeBucketed(bySrc, "dst", Memo.bucketsForRows(bySrc.count()))
      }
      (bySrc, byDst)
    }
    Map(
      "pr_iteration" -> (() => pr()),
      "hits_authority_pass" -> (() => {
        val e = hitsEdges()._1
        val h0 = e.select(col("src")).distinct().withColumn("h", lit(1000L))
        e.join(h0, Seq("src")).groupBy(col("dst")).agg(sum(col("h")).as("ra"))
      }),
      "hits_hub_pass" -> (() => {
        val e = hitsEdges()._2
        val a0 = e.select(col("dst")).distinct().withColumn("a", lit(1000L))
        e.join(a0, Seq("dst")).groupBy(col("src")).agg(sum(col("a")).as("rh"))
      }),
      // the pair-table BUILD the basket memo shares
      "basket_pairs_build" -> (() =>
        queries.Breadth59.pairTablePlan(Tables.lineitem(s, dir))),
      // the global approximate directed top-k DAG behind
      // chain_global_mutual (its eager seedTop checkpoint executes here)
      "gm_approx_topk" -> (() =>
        sim.ProjGraph.approxDirectedTopK(Tables.embeddings(s, dir), 4)))
  }

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    if (args.isEmpty) writePlansMd(spark, dir)
    else {
      val Array(outDir, suffix, keyList) = args.take(3)
      val direct = internals(spark, dir)
      Files.createDirectories(Paths.get(outDir))
      keyList.split(",").map(_.trim).filter(_.nonEmpty).foreach { k =>
        val df = direct.get(k).map(_()).getOrElse(SparkEntry.queries(k)(spark, dir))
        Files.writeString(Paths.get(outDir, s"${k}_$suffix.txt"),
          s"# $k ($suffix) — explain(formatted), $dir, local[4]\n\n" +
            explain(df) + "\n")
        println(s"wrote ${k}_$suffix.txt")
      }
    }
    spark.stop()
  }

  private def writePlansMd(spark: SparkSession, dir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (sf0.001, local[4])\n\n")
    sb.append("Generated by `graft.PlanDump`. Plan-shape invariants are enforced by `PlanSpec`;\n")
    sb.append("this file is the human-readable record.\n")
    flagship.foreach { k =>
      val df = SparkEntry.queries(k)(spark, dir)
      sb.append(s"\n## $k\n\n```\n")
      sb.append(explain(df))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("PLANS.md written")
  }
}

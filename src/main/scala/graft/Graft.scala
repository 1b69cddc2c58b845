package graft

import graft.ops.{History, Latest, TopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's user-facing API surface as a library facade — the
  * three calls a user of the reference's endpoints switches to, over any
  * events-shaped frame:
  *
  *  - `GET /api/prices` (`api/server.js:67-77`): latest row per key,
  *    value-descending → `snapshot`;
  *  - `GET /api/history` (`api/server.js:90-143`): per-key time range
  *    with the four optional-predicate WHERE shapes and inclusive end
  *    day → `history`;
  *  - the dashboard's top-7 + "Other" doughnut feed
  *    (`frontend/src/App.js:87-142`) → `topWithOther`.
  *
  * Scope: this object is the public surface of what is called — the
  * three endpoints above, the curation entry points, the live quote
  * pipeline calls, and the operators the test suites and perfbench
  * drive through it. Every other operator is reached by its
  * implementation name (`queries.*`, `ops.*`, `streaming.*`, ...); a
  * forward nobody calls is not added here (FacadeInventorySpec fails on
  * one).
  *
  * `session` is the one session factory: every main and the test
  * session build their SparkSession through it, so the facade, the
  * harnesses and the tests run on the same engine configuration.
  */
object Graft {

  /** The canonically configured session. Create-time canon (applies
    * only when this call creates the session): graft SQL extensions and
    * no Spark UI. `getOrCreate` ignores builder configs when a session
    * already exists, so the runtime canon (shuffle width, UTC, ns-parquet
    * handling, AQE also inside cached plans, listing parallelism) is
    * re-asserted on the returned session either way; the code-generation
    * cache size and the fork-free local filesystem (graft.Fs) are
    * create-time canon.
    * `spark.sql.extensions` is create-time-only: an inherited session
    * keeps graft SQL functions/rules only if it was built with them —
    * the one contract `session()` cannot retrofit (the facade's Column
    * API works regardless). */
  def session(master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Static: Spark's default of 100 compiled classes is smaller than
      // one curation pass (222 distinct classes, 400 documents / 200
      // vectors, `local[4]`), and the cache is LRU, so every later pass
      // compiled all 222 again. 512 holds a pass; warm passes compile 0.
      .config("spark.sql.codegen.cache.maxEntries", "512")
      // Static: without the native Hadoop library, the stock `file:`
      // filesystem forks `chmod` per directory made and file created, and
      // `readlink` per link check of a checkpoint-log rename. A JFR
      // recording of perfbench's `tick_live` (seed 7, `local[4]`, 4-core
      // box) counted about 41 child processes per tick: 24 `chmod` (store
      // and snapshot writes, offset and commit logs, staged payload) and
      // 16 `readlink`, at about 1.3 ms each (0.01 ms through java.nio);
      // the offset and commit log writes took 14-15 ms each. Through
      // graft.Fs a tick forks none, and they take 1 ms.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // AQE with Spark's default parallelism-first coalescing. Measured in
    // round 15: size-first coalescing shrank pair-enumeration stages to
    // 1-5 tasks with most cores idle (q_bipartite_proj 6.9 s vs 2.2 s),
    // and AQE off pushed every shuffle stage to the full session width
    // (q_distinct_keys execution 143 -> 226 ms).
    s.conf.set("spark.sql.adaptive.enabled", "true")
    // AQE inside cached plans too. Spark's default (false) plans a
    // persisted frame without AQE, so a 400-row cached frame kept all 32
    // shuffle partitions, and each reference to it in a query ran one
    // cache-stage job over every partition. Measured on a curation pass
    // (`local[4]`, 4-core box): 1231 -> 126 tasks, 3.2 -> 0.7 executor
    // CPU seconds.
    s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Above 32 paths Spark lists partition directories in a job, by
    // default one task per directory, and each task deserializes the
    // whole Hadoop configuration again. Measured on a 48-directory quote
    // store (`local[4]`, 4-core box, warm): `spark.read.parquet` took
    // 448 ms with 48 listing tasks, 176 ms with 4, 83 ms listed
    // serially without a job. One task per core keeps the listing
    // distributed at a fixed per-core cost.
    s.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism",
      s.sparkContext.defaultParallelism.toString)
    s
  }

  /** Latest row per key (max-ts ties all emitted, the reference's join
    * form), ordered value-descending. */
  def snapshot(events: DataFrame, keyCol: String = "user_id",
               tsCol: String = "ts"): DataFrame =
    Latest.latestPerKeyJoin(events, keyCol, tsCol)
      .orderBy(col("value").desc_nulls_last, col(keyCol).asc)

  /** Per-key history; either bound may be absent (the four WHERE shapes
    * of the reference's dynamic query compiler). */
  def history(events: DataFrame, keyValue: Any,
              startDay: Option[String], endDay: Option[String],
              keyCol: String = "user_id", tsCol: String = "ts",
              tieBreak: String = "event_id"): DataFrame =
    History.keyHistoryOptional(events, keyCol, keyValue, tsCol,
      startDay, endDay, tieBreak)

  /** Top-k buckets + "Other" rollup with `pct`, the percent of the grand
    * total of non-null values (null when that total is 0). The total
    * rides on the rollup's own row, so `df` is scanned once, in one
    * aggregate pass, and nothing is cached: a caller looping over
    * requests needs no unpersist. `bucketCol` must be a string column
    * and `valueCol` a double column. */
  def topWithOther(df: DataFrame, bucketCol: String, valueCol: String,
                   k: Int = 7): DataFrame =
    TopK.topKPlusOther(df, bucketCol, valueCol, k, totalCol = Some("__total"))
      // (100 * v) / total: the oracle's operand order (TopK.withPercentOfTotal)
      .withColumn("pct", round(lit(100) * col(valueCol) /
        when(col("__total") =!= 0, col("__total")), 2))
      .drop("__total")

  // ---- corpus curation (the training-data extension surface) ----------

  /** Verified near-dup pairs over a document frame: MinHash signatures →
    * LSH band candidates → exact-Jaccard threshold. The one-call batch
    * dedup entry point; defaults match the oracle-checked q_dedup_minhash. */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   threshold: Double = 0.8): DataFrame =
    graft.dedup.Dedup.minhashNearDups(docs, idCol, textCol,
      shingleLen = 3, numHashes = 12, bands = 4, threshold = threshold)

  /** Keep-one-per-cluster dedup decision: every document row — ALL its
    * columns — annotated with its duplicate-cluster id and whether it is
    * the cluster's canonical keeper (the min id), so
    * `.filter(col("keep"))` IS the deduplicated corpus. Feed `pairs`
    * from `nearDupPairs` (or any (id_a, id_b) frame). */
  def dedupKeepList(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id"): DataFrame =
    docs.join(
      graft.dedup.Dedup.clusterIds(docs.select(col(idCol)), pairs, idCol),
      idCol)
      .withColumn("keep", col("cluster_id") === col(idCol))

  // ---- warehouse time-series / maintenance (round-4 surface) ----------

  /** Per-key consecutive-day activity streaks (gaps and islands):
    * n_streaks, max_streak, n_active_days per key. One hash exchange
    * end to end — see ops.Streaks. */
  def activityStreaks(events: DataFrame, keyCol: String = "user_id",
                      tsCol: String = "ts"): DataFrame =
    ops.Streaks.streakSummary(events, keyCol, tsCol)

  /** 2D Pareto frontier, both dimensions minimized; computed on the
    * per-x aggregate, never an all-pairs dominance join — see
    * ops.Skyline. */
  def skyline(df: DataFrame, xCol: String, yCol: String,
              bestCol: String = "best_y", nCol: String = "n_rows"): DataFrame =
    ops.Skyline.frontier2d(df, xCol, yCol, bestCol, nCol)

  /** "What changed since the snapshot": full-outer diff of two keyed
    * state generations (e.g. two committed `batch_id=N` dirs of a
    * snapshot store). Each side is a |keys|-sized scan; `changed` uses
    * null-safe equality so insert- and delete-shaped differences are
    * flagged too — see ops.Merge.generationDiff (shared with the
    * oracle-checked q_time_travel). */
  def snapshotDiff(oldGen: DataFrame, newGen: DataFrame,
                   keyCol: String, valueCol: String): DataFrame =
    ops.Merge.generationDiff(oldGen, newGen, keyCol, valueCol,
      oldName = "value_old", newName = "value_new")

  /** Markov transition matrix over each key's state sequence: counts and
    * per-source probabilities for (prev, curr) state pairs. One lag
    * window on the key partition + one |states|²-sized aggregate — see
    * queries.Breadth9.transitions (oracle-checked as q_transitions). */
  def transitionMatrix(df: DataFrame, keyCol: String, stateCol: String,
                       ordCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    queries.Breadth9.transitions(df, keyCol, stateCol, ordCols)

  /** Trailing-window z-score anomaly screen: each row scored against the
    * 6 rows strictly before it on its key's timeline (bounded ROWS
    * frame — O(frame) per-key state, the form that lifts to a stream).
    * Oracle-checked as q_rolling_zscore. */
  def anomalyScreen(df: DataFrame, keyCol: String, valCol: String,
                    ordCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    queries.Breadth9.rollingZscore(df, keyCol, valCol, ordCols)

  /** Greedy cumulative bin-packing of ordered per-bucket row counts into
    * target-row compaction bins — table maintenance planned from
    * |buckets|-sized metadata. Oracle-checked as q_compaction_plan. */
  def compactionPlan(perBucket: DataFrame, bucketCol: String, nCol: String,
                     targetRows: Long): DataFrame =
    queries.Breadth9.compactionPlan(perBucket, bucketCol, nCol, targetRows)

  /** Fixed-iteration PageRank over an undirected pair list
    * (id_a, id_b) → (node, pr): which member of each near-dup cluster
    * is its authority — a principled keeper choice next to
    * dedupKeepList's min-id rule. Oracle-checked as q_pagerank. */
  def clusterAuthority(pairs: DataFrame, iters: Int = 3): DataFrame =
    queries.Extensions8.pagerank(pairs, iters)

  // ---- price-series analytics (wave 10) -------------------------------

  /** Maximum drawdown per series key: worst peak-to-trough loss over the
    * totally-ordered tick series (running prefix max — O(1) state per
    * key). Oracle-checked as q_drawdown. */
  def maxDrawdown(df: DataFrame, keyCol: String, valCol: String,
                  ordCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    queries.Breadth10.drawdownRows(df, keyCol, valCol, ordCols)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_ticks"),
        max(col(valCol)).as("peak"),
        round(max(col("__dd")), 4).as("max_drawdown"))

  /** Wilder-simplified RSI over the trailing `period` deltas per key —
    * bounded ROWS frame, O(period) state. Oracle-checked as q_rsi. */
  def rsi(df: DataFrame, keyCol: String, valCol: String,
          ordCols: Seq[org.apache.spark.sql.Column], period: Int = 14): DataFrame =
    queries.Breadth10.rsi(df, keyCol, valCol, ordCols, period)

  /** Fast/slow SMA pair + golden-cross flags per row. Oracle-checked as
    * q_sma_cross. */
  def smaCross(df: DataFrame, keyCol: String, valCol: String,
               ordCols: Seq[org.apache.spark.sql.Column],
               fast: Int = 3, slow: Int = 7): DataFrame =
    queries.Breadth10.withCross(
      queries.Breadth10.smaSignal(df, keyCol, valCol, ordCols, fast, slow),
      keyCol, ordCols)

  /** Day-over-day gaps (prior close vs next open) per key from tick
    * data. Oracle-checked as q_gap_days. */
  def dayGaps(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    queries.Breadth10.dayGaps(df, keyCol, valCol)

  // ---- statistical screens (wave 10) ----------------------------------

  /** Benford first-digit screen over a positive monetary column —
    * fabricated-feed detection. Oracle-checked as q_benford. */
  def benfordScreen(df: DataFrame, valCol: String): DataFrame =
    queries.Extensions9.benford(df, valCol)

  /** Lag-1 autocorrelation per series key (momentum / mean-reversion /
    * shuffled-feed tripwire). Oracle-checked as q_autocorr. */
  def lag1Autocorr(df: DataFrame, keyCol: String, valCol: String,
                   ordCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    queries.Extensions9.lag1Autocorr(df, keyCol, valCol, ordCols)

  /** Exponential time-decay trending scores per group ("hot now" beats
    * "big last month"). Oracle-checked as q_decay_trend. */
  def trendingScores(df: DataFrame, grpCol: String, valCol: String,
                     dayCol: String, halfLifeDays: Double = 7.0): DataFrame =
    queries.Extensions9.decayScores(df, grpCol, valCol, dayCol, halfLifeDays)

  /** Flesch-style readability bands over (doc_id, text) — a corpus
    * quality dimension orthogonal to stopword/punct scoring.
    * Oracle-checked as q_readability. */
  def readability(docs: DataFrame): DataFrame =
    queries.Extensions9.readability(docs)

  // ---- distribution screens & selection (wave 11) ---------------------

  /** CUSUM change-point screen per series key: range of the
    * mean-centered prefix-sum walk over cent-quantized values — a level
    * shift mid-series scores far above stationary noise. Integer domain
    * end to end. Oracle-checked as q_cusum. */
  def changePointScreen(df: DataFrame, keyCol: String, valCol: String,
                        ordCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    queries.Breadth11.cusumRange(df, keyCol, valCol, ordCols)

  /** One-row Gini concentration of integer volume across keys (0 =
    * uniform, →1 = winner-take-all). Oracle-checked as q_gini. */
  def volumeGini(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    queries.Breadth11.giniConcentration(df, keyCol, valCol)

  /** Two-sample Kolmogorov–Smirnov drift statistic between the rows
    * where `groupFlag` is 0 and 1 — the distribution-level A/B tripwire.
    * Oracle-checked as q_ks_drift. */
  def ksDrift(df: DataFrame, valCol: String,
              groupFlag: org.apache.spark.sql.Column): DataFrame =
    queries.Breadth11.ksDrift(df, valCol, groupFlag)

  /** Exactly-k-per-stratum deterministic sample (md5-ranked, no RNG) —
    * the reproducible eval-set builder. Oracle-checked as q_hash_sample. */
  def evalSample(df: DataFrame, strataCol: String, idCol: String,
                 k: Int): DataFrame =
    queries.Extensions10.hashSample(df, strataCol, idCol, k)

  /** Rank-winsorized per-group statistics: clamp to the k-th
    * smallest/largest before aggregating — robust to a few giant or
    * empty rows. Oracle-checked as q_winsorize. */
  def winsorizedStats(df: DataFrame, grpCol: String, valCol: String,
                      idCol: String, k: Int = 2): DataFrame =
    queries.Extensions10.winsorizedStats(df, grpCol, valCol, idCol, k)

  /** Per-source accounting of what dedup keep-one removed (doc and char
    * counts) from a (doc_id, cluster_id) assignment. Oracle-checked as
    * q_dup_survivorship. */
  def dedupSavings(clusters: DataFrame, docs: DataFrame): DataFrame =
    queries.Extensions10.dedupSavings(clusters, docs)

  // ---- as-of lookup ---------------------------------------------------

  /** As-of lookup, union+window form: for each (key, probe_ts) the
    * latest fact at or before the probe time (null when none; equal-ts
    * ties resolve to the greatest tieBreak). One co-partitioned sort
    * shuffle, no per-probe scan. Oracle-checked as q_asof. */
  def asOfLookup(facts: DataFrame, probes: DataFrame, key: String,
                 tsCol: String, probeTsCol: String, valueCol: String,
                 tieBreak: String): DataFrame =
    ops.Latest.asOfJoin(facts, probes, key, tsCol, probeTsCol, valueCol, tieBreak)

  /** As-of lookup on the native whole-plan operator (AsofJoinExec:
    * co-partitioned single-pass merge, one buffered fact row) — same
    * contract as [[asOfLookup]]; every `valueCols` entry returns as
    * `asof_<name>`, all from the same matched fact. Prefer when probes
    * carry many columns or several fact columns are needed.
    * Oracle-checked as q_asof_native. */
  def asOfLookupNative(facts: DataFrame, probes: DataFrame, key: String,
                       tsCol: String, probeTsCol: String,
                       valueCols: Seq[String], tieBreak: String): DataFrame =
    ops.Latest.asOfJoinNativeValues(facts, probes, key, tsCol, probeTsCol,
      valueCols, tieBreak)

  // ---- market microstructure (wave 12) --------------------------------

  /** Daily time-weighted average price per series key — dwell-weighted
    * cents, robust to burst-then-silence tick spacing. Oracle-checked as
    * q_twap. */
  def twap(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
           tieBreak: String): DataFrame =
    queries.Breadth12.twap(df, keyCol, tsCol, valCol, tieBreak)

  /** Realized volatility per series key (root mean squared cent move, in
    * price units). Oracle-checked as q_realized_vol. */
  def realizedVol(df: DataFrame, keyCol: String, tsCol: String,
                  valCol: String, tieBreak: String): DataFrame =
    queries.Breadth12.realizedVol(df, keyCol, tsCol, valCol, tieBreak)

  /** Per-key feed-health row: tick count, largest single-tick move,
    * longest silent gap — the stuck-feed / fat-finger tripwire.
    * Oracle-checked as q_tick_health. */
  def tickHealth(df: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, tieBreak: String): DataFrame =
    queries.Breadth12.tickHealth(df, keyCol, tsCol, valCol, tieBreak)

  // ---- pattern & dispersion screens (wave 13) --------------------------

  /** Candlestick pattern flags (doji / bullish engulfing / hammer) over
    * integer-cent daily bars. Oracle-checked as q_candle_patterns. */
  def candlePatterns(df: DataFrame, keyCol: String, tsCol: String,
                     valCol: String, tieBreak: String): DataFrame =
    queries.Breadth13.candlePatterns(df, keyCol, tsCol, valCol, tieBreak)

  /** Tokens over-indexing where `isTarget` holds vs the rest of the
    * corpus (cross-multiplied integer skew, top-k). Oracle-checked as
    * q_token_skew. */
  def tokenSkew(docs: DataFrame, textCol: String,
                isTarget: org.apache.spark.sql.Column, k: Int = 20): DataFrame =
    queries.Breadth13.tokenSkew(docs, textCol, isTarget, k)

  /** Inter-arrival burstiness (index of dispersion of tick gaps) per
    * series key — the organic-vs-scheduler tripwire. Oracle-checked as
    * q_burstiness. */
  def burstiness(df: DataFrame, keyCol: String, tsCol: String,
                 tieBreak: String): DataFrame =
    queries.Breadth13.burstiness(df, keyCol, tsCol, tieBreak)

  // ---- cross-series structure (wave 14) --------------------------------

  /** Pairwise Pearson correlation of daily closes across the `topKeys`
    * most-active series keys (the correlation-heatmap input), assembled
    * from integer co-moments so the result is engine-exact; the top-N
    * restriction keeps the pair space constant as keys grow.
    * Oracle-checked as q_pair_corr. */
  def pairCorrelation(df: DataFrame, keyCol: String, tsCol: String,
                      valCol: String, tieBreak: String, minDays: Int = 5,
                      topKeys: Int = 20): DataFrame =
    queries.Breadth14.pairCorrelation(df, keyCol, tsCol, valCol, tieBreak,
      minDays, topKeys)

  /** Daily volume-weighted average price, quantity read from the JSON
    * props field. Oracle-checked as q_vwap. */
  def vwap(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
           qtyJsonField: String): DataFrame =
    queries.Breadth14.vwap(df, keyCol, tsCol, valCol, qtyJsonField)

  // ---- retrospective reports (wave 15) ---------------------------------

  /** Best single buy→sell trade per series key (cents) — the backtest
    * floor. Prefix-min recurrence, O(1) state per key. Oracle-checked as
    * q_best_trade. */
  def bestTrade(df: DataFrame, keyCol: String, tsCol: String,
                valCol: String, tieBreak: String): DataFrame =
    queries.Breadth15.bestTrade(df, keyCol, tsCol, valCol, tieBreak)

  /** Daily audience accounting: actives, first-seen, last-seen counts per
    * day — aggregates only, never an event self-join. Oracle-checked as
    * q_user_churn. */
  def userChurn(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    queries.Breadth15.userChurn(df, keyCol, tsCol)

  // ---- dashboard digests (wave 16) --------------------------------------

  /** (ISO day-of-week × hour) activity/price grid — the calendar
    * heatmap. ≤168-row aggregate off one scan. Oracle-checked as
    * q_seasonality. */
  def seasonality(df: DataFrame, tsCol: String, valCol: String): DataFrame =
    queries.Breadth16.seasonality(df, tsCol, valCol)

  /** The k largest absolute day-over-day close moves (gainers/losers
    * widget); lag on the bar table, TakeOrdered top-k. Oracle-checked as
    * q_top_movers. */
  def topMovers(df: DataFrame, keyCol: String, tsCol: String,
                valCol: String, tieBreak: String, k: Int = 10): DataFrame =
    queries.Breadth16.topMovers(df, keyCol, tsCol, valCol, tieBreak, k)

  /** Bollinger band screen over the trailing `w` ticks: mid/band values
    * plus breakout flags decided ENTIRELY in the integer domain (the
    * squared, cross-multiplied sigma test) — no float fold order can
    * flip a flag. Oracle-checked as q_bollinger. */
  def bollinger(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
                tieBreak: String, w: Int = 5, k: Int = 2): DataFrame =
    queries.Breadth17.bollinger(df, keyCol, tsCol, valCol, tieBreak, w, k)

  /** Stochastic %K against the prior `w`-tick range — one division of
    * integer cent differences; flat windows unscored. Oracle-checked as
    * q_stochastic. */
  def stochasticK(df: DataFrame, keyCol: String, tsCol: String,
                  valCol: String, tieBreak: String, w: Int = 5): DataFrame =
    queries.Breadth18.stochasticK(df, keyCol, tsCol, valCol, tieBreak, w)

  /** Average true range over the trailing `w` daily bars (simple
    * average, integer cents — the distributed-friendly non-recursive
    * form). Oracle-checked as q_atr. */
  def atr(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
          tieBreak: String, w: Int = 3): DataFrame =
    queries.Breadth18.atr(df, keyCol, tsCol, valCol, tieBreak, w)

  /** On-balance volume line per key — integer running sum of signed JSON
    * quantities (+q up-tick, −q down-tick, 0 flat/null). Oracle-checked
    * as q_obv. */
  def obv(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
          tieBreak: String, qtyJsonField: String = "k"): DataFrame =
    queries.Breadth18.obv(df, keyCol, tsCol, valCol, tieBreak, qtyJsonField)

  /** One-factor market beta per key: cov of the key's day-over-day cent
    * diff with the same-day all-keys diff sum, over var of the latter —
    * integer co-moments, one division. Oracle-checked as q_beta. */
  def marketBeta(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
                 tieBreak: String): DataFrame =
    queries.Breadth20.marketBeta(df, keyCol, tsCol, valCol, tieBreak)

  /** Aggregate Amihud illiquidity per key: Σ|Δclose cents| / Σ quantity
    * over scored days — integer sums, one division. Oracle-checked as
    * q_amihud. */
  def amihudIlliquidity(df: DataFrame, keyCol: String, tsCol: String,
                        valCol: String, tieBreak: String,
                        qtyJsonField: String = "k"): DataFrame =
    queries.Breadth20.amihudIlliquidity(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** Roll (1984) implied spread per key from the negative serial
    * covariance of consecutive tick diffs — integer covariance
    * numerator, one division → sqrt. Oracle-checked as q_roll_spread. */
  def rollSpread(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
                 tieBreak: String): DataFrame =
    queries.Breadth20.rollSpread(df, keyCol, tsCol, valCol, tieBreak)

  /** Unannualized daily Sharpe per key — mean over std of day-over-day
    * cent moves, collapsed to one integer numerator / one radicand /
    * one division. Oracle-checked as q_sharpe. */
  def dailySharpe(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
                  tieBreak: String): DataFrame =
    queries.Breadth20.dailySharpe(df, keyCol, tsCol, valCol, tieBreak)

  /** EMA(n) series over daily closes, seeded at the first bar — the
    * per-row recurrence run as a calendar-bounded per-key fold.
    * Oracle-checked as q_ema (DuckDB recursive CTE). */
  def ema(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
          tieBreak: String, n: Int = 20): DataFrame =
    queries.Breadth19.emaSeries(df, keyCol, tsCol, valCol, tieBreak, n)

  /** MACD(12,26,9) — macd line, signal line, histogram per daily bar.
    * Oracle-checked as q_macd. */
  def macd(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
           tieBreak: String): DataFrame =
    queries.Breadth19.macdSeries(df, keyCol, tsCol, valCol, tieBreak)

  /** Wilder-smoothed RSI(14) — the EMA-recurrence twin of the SMA-based
    * [[rsi]]; null during the 14-diff warm-up. Oracle-checked as
    * q_rsi_wilder. */
  def wilderRsi(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
                tieBreak: String): DataFrame =
    queries.Breadth19.wilderRsiSeries(df, keyCol, tsCol, valCol, tieBreak)

  /** Historical VaR + expected shortfall per key from the exact
    * ceil(n/5) day-move tail — order statistics, no interpolation. */
  def varEs(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
            tieBreak: String): DataFrame =
    queries.Breadth25.varEs(df, keyCol, tsCol, valCol, tieBreak)

  /** Spearman rank correlation per key between daily close and traded
    * quantity (tie-free rank permutations, one terminal division). */
  def spearman(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
               tieBreak: String, qtyJsonField: String = "k"): DataFrame =
    queries.Breadth25.spearman(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** Kendall tau per key between daily close and traded quantity, via
    * the O(L log L) merge-sort inversion count. */
  def kendall(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
              tieBreak: String, qtyJsonField: String = "k"): DataFrame =
    queries.Breadth25.kendall(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** Rescaled-range (Hurst R/S) statistic per key over day moves, with
    * the single-window exponent proxy. */
  def hurstRs(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
              tieBreak: String): DataFrame =
    queries.Breadth25.hurstRs(df, keyCol, tsCol, valCol, tieBreak)

  /** Modal cent value per group with the deterministic smallest-value
    * tie stance. */
  def modeBy(df: DataFrame, grpCol: String, valCol: String): DataFrame =
    queries.Breadth26.modeBy(df, grpCol, valCol)

  /** Ordered LISTAGG of the distinct tags per key (sorted, comma-joined
    * — the order-free distributed form). */
  def stringAgg(df: DataFrame, keyCol: String, tagCol: String): DataFrame =
    queries.Breadth26.stringAgg(df, keyCol, tagCol)

  /** BIT_AND / BIT_OR / BIT_XOR folds per group over integer cents. */
  def bitwiseAgg(df: DataFrame, grpCol: String, valCol: String): DataFrame =
    queries.Breadth26.bitwiseAgg(df, grpCol, valCol)

  /** Per-key OLS trend of daily closes vs the day index: slope,
    * intercept, r² from re-based integer co-moments. */
  def olsTrend(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
               tieBreak: String): DataFrame =
    queries.Breadth26.olsTrend(df, keyCol, tsCol, valCol, tieBreak)

  /** Deterministic two-round quantized k-means over an embedding table
    * (md5-ordered seeds, integer distances, broadcast centroids). */
  def kmeansAssign(embeddings: DataFrame): DataFrame =
    queries.Extensions12.kmeansAssign(embeddings)

  /** DSIR-style importance weights toward a target language slice (the
    * add-one-smoothed per-token log likelihood ratio, summed per doc). */
  def dsirWeights(docs: DataFrame, targetLang: String = "en"): DataFrame =
    queries.Extensions12.dsirWeights(docs, targetLang)

  /** Chaikin money flow per key: windowed quantized money-flow volume
    * over volume (doji bars contribute zero). */
  def cmf(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
          tieBreak: String, qtyJsonField: String = "k"): DataFrame =
    queries.Breadth27.cmf(df, keyCol, tsCol, valCol, tieBreak, qtyJsonField)

  /** Detrended price oscillator per key: half-window-lagged close minus
    * the window SMA, integer until one terminal division. */
  def dpo(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
          tieBreak: String): DataFrame =
    queries.Breadth27.dpo(df, keyCol, tsCol, valCol, tieBreak)

  /** Elder force index per key: day move × volume with its EMA13, one
    * O(L) fold per key over volume-carrying daily bars. */
  def forceIndex(df: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, tieBreak: String,
                 qtyJsonField: String = "k"): DataFrame =
    queries.Breadth27.forceIndex(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** Accumulation/distribution line + Chaikin oscillator per key: the
    * integer ADL running sum and EMA3−EMA10 over it. */
  def adlChaikin(df: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, tieBreak: String,
                 qtyJsonField: String = "k"): DataFrame =
    queries.Breadth27.adlChaikin(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** Fosback NVI/PVI per key: volume-direction-gated multiplicative
    * indices over daily bars, both seeded at 1000. */
  def nviPvi(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
             tieBreak: String, qtyJsonField: String = "k"): DataFrame =
    queries.Breadth28.nviPvi(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** TRIX per key: triple-EMA rate of change (null on the seed bar). */
  def trix(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
           tieBreak: String): DataFrame =
    queries.Breadth28.trix(df, keyCol, tsCol, valCol, tieBreak)

  /** KAMA per key: efficiency-ratio-adaptive moving average (null
    * during the w-bar warm-up). */
  def kama(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
           tieBreak: String): DataFrame =
    queries.Breadth28.kama(df, keyCol, tsCol, valCol, tieBreak)

  /** Mass index per key: window-summed EMA-ratio of bar ranges. */
  def massIndex(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
                tieBreak: String): DataFrame =
    queries.Breadth28.massIndex(df, keyCol, tsCol, valCol, tieBreak)

  /** Undirected within-label kNN edge set over an embeddings frame
    * (vec_id, embedding, label). Oracle-checked via q_knn_triangles /
    * q_link_predict / q_graph_components. */
  def knnEdges(emb: DataFrame, k: Int = 4): DataFrame =
    queries.Breadth43.knnEdges(emb, k)

  /** Per-node triangle count + local clustering coefficient over a
    * canonical (id_a < id_b) edge frame. Oracle-checked as
    * q_knn_triangles. */
  def triangleStats(edges: DataFrame): DataFrame =
    queries.Breadth43.triangleStats(edges)

  /** Common-neighbour / Jaccard / Adamic–Adar link prediction over a
    * canonical edge frame. Oracle-checked as q_link_predict. */
  def linkPredict(edges: DataFrame): DataFrame =
    queries.Breadth43.linkPredict(edges)

  /** Count–min sketch point estimates for the hottest keys (d=4, w=64,
    * Carter–Wegman mod-P hashes). Oracle-checked as q_count_min. */
  def countMin(df: DataFrame, keyCol: String): DataFrame =
    queries.Breadth44.countMin(df, keyCol)

  /** Holt double-exponential level/trend/forecast series per key.
    * Oracle-checked as q_holt. */
  def holt(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
           tieBreak: String): DataFrame =
    queries.Breadth45.holtSeries(df, keyCol, tsCol, valCol, tieBreak)

  /** Theil–Sen robust slope per key (low-median pairwise slope).
    * Oracle-checked as q_theil_sen. */
  def theilSen(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
               tieBreak: String): DataFrame =
    queries.Breadth45.theilSen(df, keyCol, tsCol, valCol, tieBreak)

  /** Out-of-sample VaR backtest (60/40 time split, Kupiec LR).
    * Oracle-checked as q_var_backtest. */
  def varBacktest(df: DataFrame, keyCol: String, tsCol: String,
                  valCol: String, tieBreak: String): DataFrame =
    queries.Breadth47.varBacktest(df, keyCol, tsCol, valCol, tieBreak)

  /** Rolling-volatility cone (rank-picked quartiles per horizon).
    * Oracle-checked as q_vol_cone. */
  def volCone(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
              tieBreak: String): DataFrame =
    queries.Breadth47.volCone(df, keyCol, tsCol, valCol, tieBreak)

  /** Per-document first-occurrence novelty over shingle sets.
    * Oracle-checked as q_novelty. */
  def novelty(docs: DataFrame): DataFrame =
    queries.Breadth48.novelty(docs)

  /** Per-source shingle redundancy (dedup-potential ranking).
    * Oracle-checked as q_source_redundancy. */
  def sourceRedundancy(docs: DataFrame): DataFrame =
    queries.Breadth48.sourceRedundancy(docs)

  /** SAX symbolization: rank-quartile PAA segments per key.
    * Oracle-checked as q_sax / q_sax_words. */
  def saxSegments(df: DataFrame, keyCol: String, tsCol: String,
                  valCol: String, tieBreak: String): DataFrame =
    queries.Breadth51.saxSegments(df, keyCol, tsCol, valCol, tieBreak)

  /** Three-bar candlestick sequence flags (soldiers / crows / morning
    * star). Oracle-checked as q_three_bar_patterns. */
  def threeBarPatterns(df: DataFrame, keyCol: String, tsCol: String,
                       valCol: String, tieBreak: String): DataFrame =
    queries.Breadth52.threeBarPatterns(df, keyCol, tsCol, valCol, tieBreak)

  /** Balance of Power per bar + 5-bar integer-sum form. Oracle-checked
    * as q_bop. */
  def balanceOfPower(df: DataFrame, keyCol: String, tsCol: String,
                     valCol: String, tieBreak: String): DataFrame =
    queries.Breadth52.bop(df, keyCol, tsCol, valCol, tieBreak)

  /** Composite quality-rules gate per document. Oracle-checked as
    * q_gopher_rules / q_rule_attrition. */
  def qualityRules(docs: DataFrame): DataFrame =
    queries.Breadth53.ruleTable(docs)

  /** Volume-at-price profile with point of control. Oracle-checked as
    * q_volume_profile. */
  def volumeProfile(df: DataFrame, keyCol: String, tsCol: String,
                    valCol: String, tieBreak: String,
                    qtyJsonField: String): DataFrame =
    queries.Breadth54.volumeProfile(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** OBV divergence flags. Oracle-checked as q_obv_divergence. */
  def obvDivergence(df: DataFrame, keyCol: String, tsCol: String,
                    valCol: String, tieBreak: String,
                    qtyJsonField: String): DataFrame =
    queries.Breadth54.obvDivergence(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** Equal-weight index NAV + cross-multiplied index return.
    * Oracle-checked as q_index_nav. */
  def indexNav(df: DataFrame, keyCol: String, tsCol: String,
               valCol: String, tieBreak: String): DataFrame =
    queries.Breadth55.indexNav(df, keyCol, tsCol, valCol, tieBreak)

  /** Exact value-weight turnover between consecutive days.
    * Oracle-checked as q_turnover. */
  def turnover(df: DataFrame, keyCol: String, tsCol: String,
               valCol: String, tieBreak: String): DataFrame =
    queries.Breadth55.turnover(df, keyCol, tsCol, valCol, tieBreak)

  /** Information-driven volume bars. Oracle-checked as q_volume_bars. */
  def volumeBars(df: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, tieBreak: String,
                 qtyJsonField: String): DataFrame =
    queries.Breadth56.volumeBars(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** VPIN order-flow imbalance over volume bars. Oracle-checked as
    * q_vpin. */
  def vpin(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
           tieBreak: String, qtyJsonField: String): DataFrame =
    queries.Breadth56.vpin(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  /** Dollar (value) bars. Oracle-checked as q_dollar_bars. */
  def dollarBars(df: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, tieBreak: String,
                 qtyJsonField: String): DataFrame =
    queries.Breadth58.dollarBars(df, keyCol, tsCol, valCol, tieBreak,
      qtyJsonField)

  def langPrf(docs: DataFrame): DataFrame =
    queries.Breadth57.langPrf(docs)

  // ---- live quote pipeline (the reference ETL, end to end) ------------

  /** One poll of the upstream quote API staged into the tick log the
    * `graft-ticks` source streams from — the fetch seam a deployment
    * points at the real REST endpoint. See sources.Sources. */
  def stageTick(spark: SparkSession, fetch: () => String, stagingDir: String,
                tickTime: java.sql.Timestamp): Long =
    sources.Sources.stageTickPayload(spark, fetch, stagingDir, tickTime)

  /** The staged tick log as a batch frame (the backfill read). */
  def tickBacklog(spark: SparkSession, stagingDir: String): DataFrame =
    spark.read.format("graft-ticks").load(stagingDir)

  /** The reference's whole ETL tick as one resident streaming query:
    * tick log → shape → history store → latest-per-symbol snapshot →
    * `onSnapshot` push (fan out via streaming.SnapshotFanout). See
    * streaming.Streams.startQuoteStream. */
  def startQuoteStream(spark: SparkSession, stagingDir: String,
                       storePath: String, checkpoint: String,
                       snapshotPath: String,
                       trigger: org.apache.spark.sql.streaming.Trigger =
                         org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 minutes"))
                      (onSnapshot: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.Streams.startQuoteStream(spark, stagingDir, storePath,
      checkpoint, snapshotPath, trigger)(onSnapshot)

  // ---- round-10 operators (waves 123-136), re-exported ----------------

  /** Integer HITS hubs/authorities over a directed (src, dst) edge
    * frame — see queries.Breadth117.hits. */
  def hits(edges: DataFrame): DataFrame = queries.Breadth117.hits(edges)

  /** 1-D local-level Kalman filter per key over daily close bars. */
  def kalman(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
             tieBreak: String): DataFrame =
    queries.Breadth118.kalman(df, keyCol, tsCol, valCol, tieBreak)

  /** DTW distance from each key's close series to the per-day median
    * market series (all-integer DP). */
  def dtwMarket(df: DataFrame, keyCol: String, tsCol: String,
                valCol: String, tieBreak: String): DataFrame =
    queries.Breadth118.dtwMarket(df, keyCol, tsCol, valCol, tieBreak)

  /** Sign-flip permutation test of mean day move = 0, exact rational
    * p-values. */
  def permTest(df: DataFrame, keyCol: String, tsCol: String,
               valCol: String, tieBreak: String): DataFrame =
    queries.Breadth119.permTest(df, keyCol, tsCol, valCol, tieBreak)

  /** 48 h view→click→purchase funnel level histogram (greedy merge). */
  def windowFunnel(df: DataFrame, keyCol: String = "user_id",
                   typeCol: String = "event_type",
                   tsCol: String = "ts"): DataFrame =
    queries.Breadth120.windowFunnel(df, keyCol, typeCol, tsCol)

  /** Ordered event-type sequence regex verdict per key. */
  def sequenceMatch(df: DataFrame, keyCol: String = "user_id",
                    typeCol: String = "event_type", tsCol: String = "ts",
                    tieBreak: String = "event_id",
                    pattern: String = "s[^e]*p"): DataFrame =
    queries.Breadth120.sequenceMatch(df, keyCol, typeCol, tsCol, tieBreak,
      pattern)

  /** Product-quantization ADC top-k for the probe vectors. */
  def pqAdc(embeddings: DataFrame, k: Int = 5): DataFrame =
    queries.Breadth121.pqAdc(embeddings, k)

  /** Per-document duplicate-5-gram corpus coverage. */
  def dupNgramCoverage(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    queries.Breadth123.dupNgramCoverage(docs, idCol, textCol)

  /** Zero-clamped running balance of day moves per key. */
  def clampedBalance(df: DataFrame, keyCol: String, tsCol: String,
                     valCol: String, tieBreak: String): DataFrame =
    queries.Breadth123.clampedBalance(df, keyCol, tsCol, valCol, tieBreak)

  /** Bitemporal value-as-of over the 3×3 (tx, valid) probe grid. */
  def bitemporal(df: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, tieBreak: String): DataFrame =
    queries.Breadth124.bitemporal(df, keyCol, tsCol, valCol, tieBreak)

  /** Reciprocal-rank fusion of the exact and PQ retrieval rankings. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame =
    queries.Breadth125.rrfFusion(spark, dir)

  /** MMR diversity re-ranking of each probe's top-10 candidates. */
  def mmrDiversify(embeddings: DataFrame): DataFrame =
    queries.Breadth126.mmrDiversify(embeddings)

  /** Per-language over-represented tokens by exact integer lift. */
  def distinctiveTokens(docs: DataFrame): DataFrame =
    queries.Breadth128.distinctiveTokens(docs)

  /** Pairwise language vocabulary Jaccard. */
  def vocabOverlap(docs: DataFrame): DataFrame =
    queries.Breadth128.vocabOverlap(docs)

  /** Forecast-baseline MAEs + MASE ratios per key. */
  def forecastEval(df: DataFrame, keyCol: String, tsCol: String,
                   valCol: String, tieBreak: String): DataFrame =
    queries.Breadth129.forecastEval(df, keyCol, tsCol, valCol, tieBreak)

  /** 7×24 ISO-weekday × hour activity grid. */
  def hourDowGrid(df: DataFrame, tsCol: String = "ts"): DataFrame =
    queries.Breadth129.hourDowGrid(df, tsCol)

  /** Page–Hinkley drift statistic + absorbing alarm per key. */
  def pageHinkley(df: DataFrame, keyCol: String, tsCol: String,
                  valCol: String, tieBreak: String): DataFrame =
    queries.Breadth130.pageHinkley(df, keyCol, tsCol, valCol, tieBreak)

  /** Leave-one-out kNN label accuracy per label. */
  def knnEval(embeddings: DataFrame): DataFrame =
    queries.Breadth131.knnEval(embeddings)

  /** Two-sample Anderson–Darling between two groups of a column. */
  def andersonDarling(df: DataFrame, grpCol: String, valCol: String,
                      a: String, b: String): DataFrame =
    queries.Breadth132.andersonDarling(df, grpCol, valCol, a, b)

  /** Split × language stratification balance of the leakage-safe
    * split. */
  def splitBalance(spark: SparkSession, dir: String): DataFrame =
    queries.Breadth133.splitBalance(spark, dir)

  /** CUPED variance reduction over pre/post user halves. */
  def cuped(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
            tieBreak: String): DataFrame =
    queries.Breadth134.cuped(df, keyCol, tsCol, valCol, tieBreak)

  /** SimHash near-dup pairs at the corpus-sized combination-banding
    * operating point (hamming ≤ maxHamming; block count from one count
    * job — see Dedup.simhashOperatingPoint). */
  def simhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", blockCol: String = "source",
                      maxHamming: Int = 3): DataFrame =
    dedup.Dedup.simhashNearDupsAdaptive(docs, idCol, textCol, blockCol,
      maxHamming)

  /** Greedy k-center (Gonzalez max-min) coreset over the embeddings. */
  def kcenter(embeddings: DataFrame, k: Int = 8): DataFrame =
    queries.Breadth136.kcenter(embeddings, k)

  /** Round-robin curriculum order over (source, length rank). */
  def curriculum(docs: DataFrame, n: Int = 30): DataFrame =
    queries.Breadth136.curriculum(docs, n)

  /** Dominant right-singular direction of the quantized embedding
    * matrix (distributed power iteration). */
  def powerIteration(embeddings: DataFrame, iters: Int = 8): DataFrame =
    queries.Breadth137.powerIteration(embeddings, iters)

  /** Exact tie-handled ROC-AUC of `score` against boolean `pos`, one
    * row per `grp` (Mann–Whitney integer half-rank form). */
  def aucByGroup(df: DataFrame, grp: String, score: String,
                 pos: String): DataFrame =
    queries.Breadth138.aucByGroup(df, grp, score, pos)

  /** Per-source average precision of the n_chars score against the
    * is-English label (doc_id-tiebroken exact AP). */
  def avgPrecision(docs: DataFrame): DataFrame =
    queries.Breadth138.avgPrecision(docs)

  /** Decile calibration table + per-bin Brier of the pseudo-probability
    * (n_chars mod 101)/101 against the is-English label. */
  def calibrationTable(docs: DataFrame): DataFrame =
    queries.Breadth138.calibration(docs)

  /** Kneser–Ney bigram LM document scores + the corpus-micro-mean
    * perplexity gate (CCNet-style quality screen). */
  def kneserNeyScores(docs: DataFrame): DataFrame =
    queries.Breadth139.knScores(docs)

  /** KN continuation-probability head: tokens ranked by distinct left
    * contexts (the versatility KN backs off to). */
  def knContinuation(docs: DataFrame): DataFrame =
    queries.Breadth139.knContinuation(docs)

  /** Per-label polynomial-kernel MMD² drift vs the rest of the corpus
    * (explicit feature map — one linear pass, no pair enumeration). */
  def mmdDrift(embeddings: DataFrame): DataFrame =
    queries.Breadth140.mmdDrift(embeddings)

  /** Per-label drift attribution: the feature-map entry contributing
    * most to that label's MMD², with its share. */
  def mmdTopFeature(embeddings: DataFrame): DataFrame =
    queries.Breadth140.mmdTopFeature(embeddings)

  /** Distributed dense global rank (1..n) of `df` in `sortCols` order —
    * the scale-safe twin of `row_number() OVER (ORDER BY ...)`: range
    * partition + per-partition offsets, no single-partition window.
    * Sort keys must be unique (end them with a tiebreaker id). */
  def globalRank(df: DataFrame, out: String,
                 sortCols: org.apache.spark.sql.Column*): DataFrame =
    ops.GlobalRank.withGlobalRank(df, out, sortCols: _*)

  /** The global (label-blind) mutual-kNN edge set — **APPROXIMATE by
    * default**: the sub-quadratic projection-window build (sim.ProjGraph,
    * deterministic, linear in n) whose recall against brute-force ground
    * truth is MEASURED by q_mutual_recall, not assumed (directed top-4:
    * 1.0 at 500 random-noise vectors, ~0.6 at 2000 — far higher on
    * clustered corpora, which is what the clustered recall audit pins).
    * Every metric derived from this graph (modularity, cohesion,
    * closeness, reach, clustering coefficients) inherits that
    * approximation. Call [[mutualEdgesExact]] (Θ(n^1.5) IVF-pruned,
    * recall 1.0 by construction) when exact edges matter more than the
    * linear scale envelope. */
  def mutualEdges(embeddings: DataFrame, k: Int = 4): DataFrame =
    sim.ProjGraph.approxMutualEdges(embeddings, k)

  /** The exact IVF-pruned global mutual-kNN edges (recall 1.0 by
    * construction, Θ(n^1.5) — the recall audit's reference build). */
  def mutualEdgesExact(embeddings: DataFrame, k: Int = 4): DataFrame =
    queries.Breadth141.globalMutualEdgesExact(embeddings, k)

  /** Newman modularity of the label partition over the global
    * (label-blind) mutual-kNN graph — exact integer-rational arithmetic
    * over the **APPROXIMATE default graph** (see [[mutualEdges]]): the
    * Q value is exact FOR the projection-window edge set, which is an
    * audited approximation of the true mutual-kNN graph. Build edges
    * with [[mutualEdgesExact]] and call Breadth141.modularity directly
    * for the exact-graph figure. */
  def modularity(embeddings: DataFrame): DataFrame = {
    val edges = queries.Breadth141.globalMutualEdges(embeddings)
    queries.Breadth141.modularity(embeddings, edges)
  }

  /** Per-label cohesion over the global mutual-kNN graph: internal
    * edges, degree mass, and modularity contribution. Runs on the
    * **APPROXIMATE default graph** (see [[mutualEdges]]). */
  def labelCohesion(embeddings: DataFrame): DataFrame = {
    val edges = queries.Breadth141.globalMutualEdges(embeddings)
    queries.Breadth141.labelCohesion(embeddings, edges)
  }

  /** Nearest-centroid probe confusion matrix over the embeddings
    * (exact integer centroids + argmax assignment). */
  def centroidProbe(embeddings: DataFrame): DataFrame =
    queries.Breadth142.probeConfusion(embeddings)

  /** Nearest-centroid probe evaluation: accuracy + macro recall. */
  def centroidProbeEval(embeddings: DataFrame): DataFrame =
    queries.Breadth142.probeEval(embeddings)

  /** Margin-based bitext mining: mutual cross-lingual best matches
    * scored by the Artetxe–Schwenk ratio margin. */
  def bitextMine(embeddings: DataFrame, docs: DataFrame): DataFrame =
    queries.Breadth143.bitextMine(embeddings, docs)

  /** The bitext retrieval stage: every forward best match ranked by
    * ratio margin (top candidates table). */
  def bitextMargin(embeddings: DataFrame, docs: DataFrame): DataFrame =
    queries.Breadth143.bitextMargin(embeddings, docs)

  /** Difference-in-differences over the event stream (2×2 parity ×
    * calendar-midpoint design, exact cent-integer cell means). */
  def did(events: DataFrame): DataFrame =
    queries.Breadth144.did(events)

  /** Cohen's kappa between gold lang and the marker-word language-ID
    * heuristic (integer-rational chance correction). */
  def cohenKappa(docs: DataFrame): DataFrame =
    queries.Breadth144.cohenKappa(docs)

  /** Split-conformal audit: calibration quantile q̂ + test coverage
    * (md5-parity split, per-source floored-mean base predictor). */
  def conformal(docs: DataFrame): DataFrame =
    queries.Breadth145.conformal(docs)

  /** Per-source conformal coverage under the global q̂. */
  def conformalBySource(docs: DataFrame): DataFrame =
    queries.Breadth145.conformalBySource(docs)

  /** AMS tug-of-war F₂ audit: exact second moment vs the median-of-5
    * one-pass sketch. */
  def amsF2(docs: DataFrame): DataFrame =
    queries.Breadth146.amsF2(docs)

  /** The five AMS estimator rows (sign sums + estimates). */
  def amsSketches(docs: DataFrame): DataFrame =
    queries.Breadth146.amsSketches(docs)

  /** Wald SPRT per event stream: decision, crossing index, LLR. */
  def sprt(events: DataFrame): DataFrame =
    queries.Breadth147.sprt(events)

  /** Sequential pipeline-yield funnel: length → exact-dedup → KN
    * perplexity gate, one survival row per stage. */
  def pipelineYield(docs: DataFrame): DataFrame =
    queries.Breadth148.pipelineYield(docs)

  /** Independent-gate overlap counts (2³ combinations). */
  def gateOverlap(docs: DataFrame): DataFrame =
    queries.Breadth148.gateOverlap(docs)

  /** Neyman-optimal stratified sampling allocation over sources
    * (integer largest-remainder rounding; Σalloc = budget). */
  def neymanAllocation(docs: DataFrame, budget: Long = 100L): DataFrame =
    queries.Breadth149.neyman(docs, budget)

  /** Proportional-vs-Neyman design-variance audit. */
  def neymanEfficiency(docs: DataFrame, budget: Long = 100L): DataFrame =
    queries.Breadth149.neymanEfficiency(docs, budget)

  /** AMS inner-product join-size estimate (orders ⋈ lineitem shape):
    * exact size vs the median-of-5 sketch product. */
  def joinSizeEstimate(left: DataFrame, right: DataFrame): DataFrame =
    queries.Breadth150.joinSizeEst(left, right)

  /** k-anonymity audit over the (source, length-decile) QI. */
  def kAnonymity(docs: DataFrame): DataFrame =
    queries.Breadth151.kAnonymity(docs)

  /** l-diversity audit (sensitive attribute: lang). */
  def lDiversity(docs: DataFrame): DataFrame =
    queries.Breadth151.lDiversity(docs)

  /** The one-row dataset card (datasheet aggregates). */
  def datasetCard(docs: DataFrame): DataFrame =
    queries.Breadth152.datasetCard(docs)

  /** Per-language dataset cards. */
  def datasetCardByLang(docs: DataFrame): DataFrame =
    queries.Breadth152.datasetCardByLang(docs)

  /** Temperature-α=0.5 source mixing shares + oversample factors. */
  def temperatureMix(docs: DataFrame): DataFrame =
    queries.Breadth153.temperatureMix(docs)

  /** Deterministic keyed per-epoch visit order (training manifest). */
  def epochRanks(docs: DataFrame, epochs: Int = 3): DataFrame =
    queries.Breadth153.epochRanks(docs, epochs)

  /** From-scratch 64-register HyperLogLog estimate vs exact distinct
    * (md5 registers, replayable arithmetic). */
  def hllEstimate(docs: DataFrame): DataFrame =
    queries.Breadth154.hllEstimate(docs)

  /** The filled HLL register table (mergeable by max). */
  def hllRegisters(docs: DataFrame): DataFrame =
    queries.Breadth154.hllRegisters(docs)

  /** Percolation curve of the global cosine graph (dedup-threshold
    * tuning table). */
  def percolation(embeddings: DataFrame): DataFrame =
    queries.Breadth155.percolation(embeddings)

  /** Similarity-graph hubs at the house threshold (cluster-center
    * safety audit). */
  def degreeHubs(embeddings: DataFrame): DataFrame =
    queries.Breadth155.degreeHubs(embeddings)

  /** Exact kNN-Shapley data valuation: top-10 most valuable training
    * vectors per probe. */
  def knnShapley(embeddings: DataFrame): DataFrame =
    queries.Breadth156.knnShapley(embeddings)

  /** Aggregate kNN-Shapley valuation per training label. */
  def shapleyByLabel(embeddings: DataFrame): DataFrame =
    queries.Breadth156.shapleyByLabel(embeddings)

  /** t-closeness release verdict (max class TVD vs the global lang
    * distribution). */
  def tCloseness(docs: DataFrame): DataFrame =
    queries.Breadth157.tCloseness(docs)

  /** The top-10 t-closeness audit worklist. */
  def tWorstClasses(docs: DataFrame): DataFrame =
    queries.Breadth157.tWorstClasses(docs)

  /** Weight-of-evidence bins + information value of the quantity
    * bucket against the returned outcome. */
  def woeIv(lineitem: DataFrame): DataFrame =
    queries.Breadth158.woeIv(lineitem)

  /** m-estimate smoothed target encoding of the supplier key. */
  def targetEncode(lineitem: DataFrame): DataFrame =
    queries.Breadth158.targetEncode(lineitem)

  /** Gains/lift table over exact score-rank deciles. */
  def liftDeciles(docs: DataFrame): DataFrame =
    queries.Breadth159.liftDeciles(docs)

  /** Murphy decomposition of the Brier score (reliability /
    * resolution / uncertainty / residual). */
  def brierDecomp(docs: DataFrame): DataFrame =
    queries.Breadth159.brierDecomp(docs)

  /** McNemar's paired test between the length and perplexity gates. */
  def mcnemar(docs: DataFrame): DataFrame =
    queries.Breadth160.mcnemar(docs)

  /** Cochran's Q over the three independent quality gates. */
  def cochranQ(docs: DataFrame): DataFrame =
    queries.Breadth160.cochranQ(docs)

  /** Tie-aware ordinal association (gamma, Somers' D, tau-b) between
    * priority and the price quintile. */
  def ordinalAssoc(orders: DataFrame): DataFrame =
    queries.Breadth161.ordinalAssoc(orders)

  /** Theil's uncertainty coefficients between source and lang. */
  def theilU(docs: DataFrame): DataFrame =
    queries.Breadth161.theilU(docs)

  /** Per-source quantile-normalization audit. */
  def quantileNorm(docs: DataFrame): DataFrame =
    queries.Breadth162.quantileNorm(docs)

  /** The quantile-normalization mapping (bounded doc_id < 100 slice). */
  def quantileNormMap(docs: DataFrame): DataFrame =
    queries.Breadth162.quantileNormMap(docs)

  /** Horvitz–Thompson total-quantity estimate under the two-stratum
    * md5 design. */
  def horvitzThompson(lineitem: DataFrame): DataFrame =
    queries.Breadth163.horvitzThompson(lineitem)

  /** Delete-one-supplier jackknife table for the revenue/quantity
    * ratio. */
  def jackknife(lineitem: DataFrame): DataFrame =
    queries.Breadth163.jackknife(lineitem)

  /** One-row jackknife SE summary. */
  def jackknifeSe(lineitem: DataFrame): DataFrame =
    queries.Breadth163.jackknifeSe(lineitem)

  /** Friedman χ² + Kendall's W over month-blocked priority revenue. */
  def friedman(orders: DataFrame): DataFrame =
    queries.Breadth164.friedman(orders)

  /** The per-priority Friedman rank profile. */
  def friedmanRanks(orders: DataFrame): DataFrame =
    queries.Breadth164.friedmanRanks(orders)

  /** Per-probe first-relevant-hit ranks and reciprocal ranks. */
  def firstHit(embeddings: DataFrame): DataFrame =
    queries.Breadth165.firstHitTable(embeddings)

  /** MRR + hit@1/5/10 retrieval roll-up. */
  def mrr(embeddings: DataFrame): DataFrame =
    queries.Breadth165.mrr(embeddings)

  /** Chao1 / Good–Turing vocabulary-richness estimators. */
  def vocabRichness(docs: DataFrame): DataFrame =
    queries.Breadth166.vocabRichness(docs)

  /** Chapman capture-recapture vocabulary estimate. */
  def captureRecapture(docs: DataFrame): DataFrame =
    queries.Breadth166.captureRecapture(docs)

  /** Rendezvous-hashing 8-shard assignment histogram. */
  def rendezvous(docs: DataFrame): DataFrame =
    queries.Breadth167.rendezvous(docs)

  /** The 8→9 resize movement audit (HRW vs mod-N). */
  def rendezvousResize(docs: DataFrame): DataFrame =
    queries.Breadth167.rendezvousResize(docs)

  /** Per-source Jensen–Shannon divergence vs the rest of the corpus. */
  def jsDivergence(docs: DataFrame): DataFrame =
    queries.Breadth168.jsDivergence(docs)

  /** Median-of-means vs the plain mean for line revenue. */
  def medianOfMeans(lineitem: DataFrame): DataFrame =
    queries.Breadth168.medianOfMeans(lineitem)

  /** Closeness/harmonic centrality from the seed panel. */
  def closeness(mutualEdges: DataFrame): DataFrame =
    queries.Breadth169.closeness(mutualEdges)

  /** The pooled hop expansion curve. */
  def reachCurve(mutualEdges: DataFrame): DataFrame =
    queries.Breadth169.reachCurve(mutualEdges)

  /** Per-source stylometric z-profiles (top-5 tokens). */
  def styloProfile(docs: DataFrame): DataFrame =
    queries.Breadth170.styloProfile(docs)

  /** Burrows' Delta source-pair distances, most similar first. */
  def burrowsDelta(docs: DataFrame): DataFrame =
    queries.Breadth170.burrowsDelta(docs)

  /** Isotonic (minimax/PAVA) calibration of the pseudo-probability. */
  def isotonicCalibration(docs: DataFrame): DataFrame =
    queries.Breadth171.isotonicCalibration(docs)

  /** ECE before/after isotonic fitting. */
  def calibrationError(docs: DataFrame): DataFrame =
    queries.Breadth171.calibrationError(docs)

  /** Per-source Hill diversity numbers ⁰D/¹D/²D. */
  def hillNumbers(docs: DataFrame): DataFrame =
    queries.Breadth172.hillNumbers(docs)

  /** Effective number of sources. */
  def sourceEffective(docs: DataFrame): DataFrame =
    queries.Breadth172.sourceEffective(docs)

  /** Two-sample Cramér–von Mises (en vs non-en lengths). */
  def cvm(docs: DataFrame): DataFrame = queries.Breadth173.cvm(docs)

  /** Mood's median test (en vs non-en lengths). */
  def moodMedian(docs: DataFrame): DataFrame =
    queries.Breadth173.moodMedian(docs)

  /** Rich-club curve of an undirected edge set. */
  def richClub(mutualEdges: DataFrame): DataFrame =
    queries.Breadth174.richClub(mutualEdges)

  /** Local clustering-coefficient histogram. */
  def localClustering(mutualEdges: DataFrame): DataFrame =
    queries.Breadth174.localClustering(mutualEdges)

  /** Synthetic-control daily effects for the treated cohort. */
  def synthControl(events: DataFrame): DataFrame =
    queries.Breadth175.synthControl(events)

  /** Placebo distribution over all pretend-treated cohorts. */
  def placebo(events: DataFrame): DataFrame =
    queries.Breadth175.placebo(events)

  /** Laplace-noised histogram in the DP release SHAPE — NOT a real
    * privacy mechanism as shipped. The noise is a deterministic,
    * publicly replayable md5 inverse-CDF transform (an oracle-testable
    * stand-in for Lap(1/ε) draws), and the output includes the exact
    * true count column `n` alongside `noisy_count`. A production
    * release must (1) swap the md5 draw for a CSPRNG, (2) drop the `n`
    * and `noise` columns, and (3) account ε across repeated releases —
    * see the Breadth176 module doc. */
  def dpHistogram(docs: DataFrame): DataFrame =
    queries.Breadth176.dpHistogram(docs)

  /** DP release utility accountant. */
  def dpUtility(docs: DataFrame): DataFrame =
    queries.Breadth176.dpUtility(docs)

  /** Stratified propensity design table. */
  def propensityTable(events: DataFrame): DataFrame =
    queries.Breadth177.propensityTable(events)

  /** Naive vs inverse-propensity-weighted ATT. */
  def ipwAtt(events: DataFrame): DataFrame =
    queries.Breadth177.ipwAtt(events)

  /** Good–Turing frequency-of-frequencies table over 3-token shingle
    * document frequencies: r, N_r, N_{r+1}, r* = (r+1)·N_{r+1}/N_r. */
  def goodTuring(docs: DataFrame): DataFrame =
    queries.Breadth178.goodTuring(queries.Breadth178.shingleDf(docs))

  /** Good–Turing unseen-mass gauge: P₀ = N₁/N and the hapax share of
    * the shingle vocabulary. */
  def unseenMass(docs: DataFrame): DataFrame =
    queries.Breadth178.unseenMass(queries.Breadth178.shingleDf(docs))

  /** Rank-biased overlap (p = 3/4, depth 5) between two per-probe
    * rank lists carrying (probe_id, rank, neighbor_id). */
  def rbo(exact: DataFrame, approx: DataFrame): DataFrame =
    queries.Breadth178.rbo(exact, approx)

  /** LSH S-curve (r = 3, b = 4) against the observed probe-pair
    * Jaccard histogram: expected near-dup capture per similarity
    * bucket. */
  def lshPower(docs: DataFrame): DataFrame =
    queries.Breadth178.lshPower(docs)

  /** Frequent sequential patterns (subsequence support, apriori
    * level-wise) over each user's first-8-event journey. */
  def seqPatterns(events: DataFrame): DataFrame =
    queries.Breadth178.seqPatterns(events)
}

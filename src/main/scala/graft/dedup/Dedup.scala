package graft.dedup

import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact
  * (fingerprint hash-groupBy), MinHash+LSH near-dup, SimHash, and exact
  * n-gram Jaccard verification.
  *
  * Scale design:
  *  - exact dedup = one hash shuffle on a 32-byte fingerprint, partial agg
  *    map-side; never compares full texts;
  *  - MinHash: shingles are EXPLODED then min-aggregated per seed — one
  *    shuffle of (doc, shingle-hash) pairs with map-side partial min, so
  *    no row ever holds the full shingle set in a single buffer;
  *  - LSH banding turns the O(n²) all-pairs problem into a self-join on
  *    (band_idx, band_key) buckets — only candidate pairs sharing a band
  *    are ever joined, then verified with exact Jaccard;
  *  - hashes are md5-based (not Spark-native hash) so the DuckDB oracle
  *    reproduces them bit-for-bit.
  */
object Dedup {

  /** Exact duplicates by an arbitrary fingerprint expression: every row
    * annotated with its group's canonical (min) id and dup flag. Shared by
    * text dedup (normalized-content md5) and binary media dedup
    * (payload-byte md5, graft.multimodal.Multimodal.payloadDedup). */
  def exactDupsBy(df: DataFrame, idCol: String, fpCol: Column): DataFrame = {
    val fp = df.select(col(idCol), fpCol.as("fp"))
    val canon = fp.groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
    fp.join(canon, "fp")
      .withColumn("is_dup", (col(idCol) =!= col("canonical_id")).cast("int"))
  }

  /** Exact duplicates by normalized-content fingerprint. */
  def exactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDupsBy(docs, idCol, Text.fingerprint(col(textCol)))

  /** Kirsch–Mitzenmacher modulus for derived minhash functions. */
  val KMod = 1000000007L

  /** MinHash signature columns h0..h{numHashes-1}: ONE md5 per distinct
    * shingle split into two 60-bit halves (h1, h2), then hash family
    * g_i = h1 + i·(h2 mod KMod) — the Kirsch–Mitzenmacher construction,
    * so the md5 cost does not multiply with the signature width. Exploded
    * + min-aggregated (map-side partial min → one shuffle of (doc, h1,
    * h2) pairs). All arithmetic stays inside int64 → exact in any engine. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int, numHashes: Int): DataFrame = {
    val sh = docs
      .select(col(idCol), explode(Text.shingleSet(col(textCol), shingleLen)).as("sh"))
      .select(col(idCol), md5(col("sh")).as("m"))
      .select(col(idCol),
        conv(substring(col("m"), 1, 15), 16, 10).cast("long").as("h1"),
        (conv(substring(col("m"), 17, 15), 16, 10).cast("long") % KMod).as("h2"))
    val aggs = (0 until numHashes).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"h$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** The same MinHash signatures computed PER ROW (higher-order array
    * fold over the shingle set — no explode, no shuffle, no aggregation),
    * appended as h0..h{numHashes-1} columns with every input column
    * preserved. Identical values to `minhashSignatures` (pinned in
    * TextDedupSpec): min over the same derived-hash family, just folded
    * in-row instead of shuffled. This is the STREAMING-SAFE shape — a
    * stateless map a micro-batch can run without a stateful aggregation —
    * and the right batch shape too when rows are normal-document-sized
    * (the exploded+grouped form exists for pathological single-row
    * blowups where one doc's shingle set should not sit in one buffer).
    * The md5 array is materialized in its own projection first: a lambda
    * referencing an unmaterialized expensive array inlines it PER
    * ELEMENT (the winnowing O(n²) trap — see the parity notes). */
  def withRowwiseMinhashSignatures(df: DataFrame, textCol: String,
                                   shingleLen: Int, numHashes: Int): DataFrame = {
    val hs = transform(Text.shingleSet(col(textCol), shingleLen), sh => {
      val m = md5(sh)
      struct(conv(substring(m, 1, 15), 16, 10).cast("long").as("h1"),
        (conv(substring(m, 17, 15), 16, 10).cast("long") % KMod).as("h2"))
    })
    val staged = df.withColumn("__hs", hs)
    val sigCols = (0 until numHashes).map(i =>
      array_min(transform(col("__hs"), s =>
        s.getField("h1") + lit(i.toLong) * s.getField("h2"))).as(s"h$i"))
    staged.select(col("*") +: sigCols: _*).drop("__hs")
  }

  /** LSH band keys: (band_idx, band_key) rows, band_key = md5 of the
    * concatenated row hashes in the band. One generator pass (explode of
    * per-band structs) — a union of per-band selects would re-run the
    * whole upstream MinHash aggregation once per band. */
  /** The per-row array of (band_idx, band_key) structs over signature
    * columns h0..h{numHashes-1}, which [[lshBands]] explodes into the
    * band table. */
  def lshBandStructs(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band_idx"), md5(concat_ws("|", cols: _*)).as("band_key"))
    }: _*)

  def lshBands(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col(idCol), explode(lshBandStructs(bands, rowsPerBand)).as("__b"))
      .select(col(idCol), col("__b.band_idx"), col("__b.band_key"))

  /** Candidate pairs (a < b) sharing at least one LSH band. */
  def lshCandidates(bandDf: DataFrame, idCol: String): DataFrame = {
    val a = bandDf.select(col("band_idx"), col("band_key"), col(idCol).as("id_a"))
    val b = bandDf.select(col("band_idx"), col("band_key"), col(idCol).as("id_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard over distinct word-ngram shingle sets for given
    * (id_a, id_b) candidate pairs. Shingle sets are only materialized for
    * docs that actually appear in a pair (semi-join pruning — candidates
    * are a vanishing fraction of the corpus after LSH). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, shingleLen: Int): DataFrame = {
    val ids = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol))).distinct()
    // no broadcast() hint: LSH candidates are a vanishing fraction of the
    // corpus by construction, but a forced broadcast would OVERRIDE the
    // size threshold and OOM the driver on a pathological corpus (e.g. a
    // mirrored crawl where half the docs pair up). AQE sees the real
    // candidate-set size at runtime and picks broadcast exactly when it
    // is actually small (TextDedupSpec pins output equality either way).
    val sets = docs.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol), Text.shingleSet(col(textCol), shingleLen).as("sh"))
    val sa = sets.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val sb = sets.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Probe-vs-corpus n-gram Jaccard via an INVERTED INDEX instead of a
    * quadratic pairwise array-intersect: explode probe and corpus shingle
    * sets, equi-join on the shingle, count matches per (id_a, id_b) —
    * that count IS |A∩B| because the sets are distinct. Pairs sharing no
    * shingle never materialize, which is what makes this the 100 TB shape
    * (work ∝ matching postings, not |probes|×|corpus|).
    * Emits pairs with jaccard >= minJ (> 0 required: zero-overlap pairs
    * don't exist in the index by construction). */
  def jaccardProbeAll(docs: DataFrame, idCol: String, textCol: String,
                      shingleLen: Int, probeMax: Long, minJ: Double): DataFrame = {
    // The posting list (doc, shingle) feeds three consumers (probe side,
    // corpus side, per-doc sizes); persist so the text→shingle pipeline
    // runs once. At warehouse scale this materialization IS the inverted
    // index you would keep as a table.
    val post = docs.select(col(idCol),
        explode(Text.shingleSet(col(textCol), shingleLen)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = post.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val probePost = post.filter(col(idCol) < probeMax)
      .select(col(idCol).as("id_a"), col("sh"))
    val corpusPost = post.select(col(idCol).as("id_b"), col("sh"))
    val inter = corpusPost.join(broadcast(probePost), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.filter(col(idCol) < probeMax)
        .select(col(idCol).as("id_a"), col("sz").as("sz_a"))), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  /** Train/eval CONTAMINATION check — the leakage metric every
    * training-data pipeline needs before an eval set is trusted: for each
    * eval doc, the fraction of its distinct n-gram shingles that appear
    * ANYWHERE in the training corpus (containment |A ∩ corpus| / |A|).
    *
    * Shape: one posting list (doc, shingle), eval side vs the DISTINCT
    * train shingle set via left-semi equi-join — work ∝ matching
    * postings, exactly the inverted-index scaling of jaccardProbeAll; the
    * distinct train-shingle set is the corpus index a warehouse would
    * keep materialized (or replace with a Bloom filter when an
    * approximate screen suffices). The ratio is raw double division of
    * the two counts — identical operands are bit-exact across engines, no
    * rounding hazard. `isEval` partitions the corpus (rows matching =
    * eval set, rest = train).
    *
    * Persist lifecycle (here and in boilerplateRatio/jaccardProbeAll):
    * the posting-list cache lives inside the returned plan and stays for
    * the session — callers looping over many corpora should
    * `spark.catalog.clearCache()` between them. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int, isEval: Column): DataFrame = {
    val post = docs.select(col(idCol), isEval.as("__eval"),
        explode(Text.shingleSet(col(textCol), shingleLen)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evalPost = post.filter(col("__eval")).select(col(idCol), col("sh"))
    val trainShingles = post.filter(!col("__eval")).select("sh").distinct()
    val sizes = evalPost.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val hits = evalPost.join(trainShingles, Seq("sh"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    sizes.join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("containment",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
  }

  /** Corpus-frequent n-gram (boilerplate) screening — the C4/RefinedWeb
    * move of dropping content repeated across many documents, at shingle
    * granularity since this corpus has no line structure: a shingle with
    * document frequency >= minDocs is boilerplate; each doc is annotated
    * with its distinct-shingle count, boilerplate-shingle count, and the
    * raw-double ratio. Same inverted-index scaling as ngramContainment —
    * document frequency is ONE count over the posting list (per-doc
    * distinct shingles, so count(*) IS df), and only postings matching a
    * boilerplate shingle flow into the per-doc hit count. */
  def boilerplateRatio(docs: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int, minDocs: Long): DataFrame = {
    val post = docs.select(col(idCol),
        explode(Text.shingleSet(col(textCol), shingleLen)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val boiler = post.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs).select("sh")
    val sizes = post.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val hits = post.join(boiler, Seq("sh"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_boilerplate"))
    sizes.join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_boilerplate"), lit(0L)).as("n_boilerplate"))
      .withColumn("boilerplate_ratio",
        col("n_boilerplate").cast("double") / col("n_shingles").cast("double"))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band → bucket
    * self-join → exact-Jaccard verify → threshold. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      shingleLen: Int = 3, numHashes: Int = 12,
                      bands: Int = 4, threshold: Double = 0.8): DataFrame =
    minhashNearDupsFromSigs(
      minhashSignatures(docs, idCol, textCol, shingleLen, numHashes),
      docs, idCol, textCol, shingleLen, numHashes, bands, threshold)

  /** Band → bucket-join → exact-verify over PRECOMPUTED signatures — the
    * warehouse shape: signatures are deterministic per document, so a
    * 100 TB pipeline materializes the signature table once (per corpus
    * snapshot) and every dedup pass reads it instead of re-hashing every
    * shingle. The memoized signature store (Extensions.minhashSigs)
    * feeds this from the bench/verify harness for the same reason. */
  def minhashNearDupsFromSigs(sigs: DataFrame, docs: DataFrame,
                              idCol: String, textCol: String,
                              shingleLen: Int, numHashes: Int,
                              bands: Int, threshold: Double): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Not cached: the candidate self-join and `jaccardVerify` reference
    // the band table 10 times, and a cached table costs one cache-stage
    // job per reference, which ran concurrently and made the task count
    // of a pass vary. Uncached, AQE reuses the signature shuffle, so the
    // signature-side plan still runs once per call.
    val bandDf = lshBands(sigs, idCol, bands, rowsPerBand)
    val cands = lshCandidates(bandDf, idCol)
    jaccardVerify(cands, docs, idCol, textCol, shingleLen)
      .filter(col("jaccard") >= threshold)
  }

  /** Duplicate-cluster assignment from verified near-dup PAIRS: iterative
    * min-label propagation (each node adopts the smallest id reachable
    * over the pair graph) until fixpoint — distributed connected
    * components via joins, the step that turns pairwise dedup output into
    * "keep one per cluster". Near-dup clusters are overwhelmingly tiny
    * (diameter 2-3), so the loop converges in a few rounds; `maxIters`
    * bounds pathological chains. */
  /** Edge count at or below which the propagation loop broadcast-hints
    * its label side (the label table is bounded by 2·|edges| rows of two
    * longs — tens of MB at this bound). Above it, plain joins + AQE
    * decide. */
  private val SmallGraphEdges = 5000000L

  /** Cluster labels for GRAPH NODES ONLY (docs appearing in >= 1 pair):
    * (idCol, cluster_id = min id reachable over the pair graph). The loop
    * never touches the corpus — at 100 TB the near-dup graph is a
    * vanishing fraction of the documents (that is the point of dedup), so
    * every iteration is O(|pairs|), and consumers that only care about
    * duplicate-cluster members (keep-one lists, cluster reports) skip the
    * corpus-wide rejoin entirely. `clusterIds` layers singletons back on.
    *
    * Action discipline (the cost model at BOTH ends of the scale — on a
    * loaded cluster each Spark action is scheduler latency, on tiny
    * graphs it is the whole runtime): iteration 0 folds into ONE groupBy
    * over the edge list (closed-neighborhood min — no join needed when
    * every label is still its own id), and each later iteration runs
    * exactly one action: a decimal-sum aggregate over the freshly
    * persisted generation. Labels never increase, so the label sum
    * strictly decreases until fixpoint — sum equality IS convergence, no
    * second changed-row count per generation. */
  def clusterMembers(pairs: DataFrame, idCol: String,
                     maxIters: Int = 10): DataFrame = {
    // undirected edge list, both directions. localCheckpoint, not
    // persist: the loop's generations reference `edges` once per round
    // (plus the 3-way label fan-out below), so an un-truncated input
    // LINEAGE gets re-rendered up to ~13× in every action's SQL-event
    // explain string — with a deep upstream plan (the IVF kNN build)
    // that is a multi-GB string and a driver OOM, not a slowdown
    // (caught live at sf0.1). The checkpoint roots the loop at a
    // LogicalRDD; blocks are reclaimed by the ContextCleaner when the
    // frame goes out of scope.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(eager = false)
    // materializes the edge checkpoint AND sizes the plan hints below
    val nEdges = edges.count()
    val small = nEdges <= SmallGraphEdges
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("cluster_id").cast("decimal(38,0)")).as("s"))
        .head.getDecimal(0))
    // iteration 0, join-free: every node's label starts as its own id, so
    // the first propagation is min over the closed neighborhood — one
    // partial+final aggregate over the edge list
    var labels = edges.groupBy(col("src").as(idCol)).agg(min("dst").as("__nmin"))
      .select(col(idCol), least(col(idCol), col("__nmin")).as("cluster_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var prevSum = labelSum(labels) // materializes generation 0
    var persisted: Option[DataFrame] = Some(labels)
    var converged = nEdges == 0
    var i = 1
    while (!converged && i < maxIters) {
      val neighborLabels = edges
        .join(hinted(labels.select(col(idCol).as("dst"), col("cluster_id").as("nl"))), "dst")
        .select(col("src").as(idCol), col("nl").as("cluster_id"))
      // pointer jumping: L(L(v)) rides the same union — every label is a
      // graph-node id by construction (iteration 0 emits node ids; min
      // preserves that), so the label→label join never drops a row. The
      // combined update min(L(v), min_N L(u), L(L(v))) halves remaining
      // chain depth per round: convergence in O(log diameter) rounds
      // instead of O(diameter) — a 2000-node kNN path graph went ~40
      // generations → 8, and at 100 TB a pathological crawl chain can't
      // hold the job hostage for diameter rounds. Fixpoint unchanged
      // (sum-stable ⟹ the neighbor-min term alone is stable ⟹ labels
      // constant per component at the component min), so cluster ids are
      // bit-identical to the plain propagation.
      val jumped = labels.select(col("cluster_id").as("__j"), col(idCol))
        .join(hinted(labels.select(col(idCol).as("__j"),
          col("cluster_id").as("__jl"))), "__j")
        .select(col(idCol), col("__jl").as("cluster_id"))
      // own previous label rides the union, so groupBy-min is the whole
      // update — no second join against the previous generation
      val joined = labels.unionByName(neighborLabels).unionByName(jumped)
        .groupBy(col(idCol)).agg(min("cluster_id").as("cluster_id"))
      // localCheckpoint every 3rd generation: persist truncates the
      // PHYSICAL lineage but the logical plan still grows per iteration
      // (analysis/optimization cost compounds at deep chains). A local
      // checkpoint restarts the plan from a LogicalRDD. LAZY (eager would
      // add a second job — the labelSum below materializes it, keeping
      // the one-action-per-generation invariant). Local (executor-
      // storage) checkpoints trade off executor-loss recovery; on a
      // cluster where that matters, set a checkpoint dir and swap in
      // .checkpoint().
      val updated = (if (i % 3 == 2) joined.localCheckpoint(eager = false)
                     else joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val s = labelSum(updated) // the one action: materializes + checks
      // the superseded generation's cache can go (iterative persists
      // otherwise accumulate for the session)
      persisted.foreach(_.unpersist(blocking = false))
      persisted = Some(updated)
      labels = updated
      converged = s == prevSum ||
        (s.isDefined && prevSum.isDefined && s.get.compareTo(prevSum.get) == 0)
      prevSum = s
      i += 1
    }
    if (!converged)
      // truncation means some long chain has not reached its min label —
      // surfaced, not silent: callers can re-run with a higher bound
      System.err.println(
        s"[graft.Dedup.clusterMembers] label propagation stopped at maxIters=$maxIters before convergence; cluster ids may be non-canonical for long chains")
    // checkpoint blocks are ContextCleaner-reclaimed once `edges` is
    // unreachable (unpersist() only talks to the CacheManager, which
    // never saw this frame)
    labels
  }

  /** Full cluster assignment over `allIds`: graph nodes get their
    * propagated min label (clusterMembers), everything else is its own
    * singleton cluster via a left join — the corpus-sized side is touched
    * exactly once, outside the loop. */
  def clusterIds(allIds: DataFrame, pairs: DataFrame, idCol: String,
                 maxIters: Int = 10): DataFrame = {
    val members = clusterMembers(pairs, idCol, maxIters)
      .withColumnRenamed("cluster_id", "__cl")
    allIds.select(col(idCol))
      .join(members, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("__cl"), col(idCol)).as("cluster_id"))
  }

  /** 64-bit SimHash over (non-distinct) whitespace tokens: bit j is set
    * when the sum over tokens of ±1 (per the token-hash's bit j) is > 0.
    * 64 bits, not 32, is the scale-load-bearing choice (the Manku/
    * Jain/Sarma width): banding for hamming d blocks on d+1 bands of
    * width/(d+1) bits each, and candidate volume per band is
    * ∝ n²/2^bandwidth — at d=6, 64 bits give ~9-bit bands (512 buckets)
    * vs 32-bit's ~4.6-bit bands (≤32 buckets), a 16–32× smaller
    * quadratic constant that the sf0.1→sf1 measurement showed dominating
    * wall time. The value is a raw 64-bit pattern in a signed long (bit
    * 63 lands in the sign bit); consumers only ever xor/bit_count/mask
    * it. */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("hv", Text.tokenHash64(col("tok")))
    val bitSums = (0 until 64).map(j =>
      sum(when(shiftright(col("hv"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$j"))
    val sums = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    // disjoint bit terms: the sum IS the bitwise OR (bit 63's term is
    // Long.MinValue — adding it cannot overflow, every other term is in
    // the low 63 bits)
    val sim = (0 until 64).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col(idCol), sim.as("simhash"))
  }

  /** The same 64-bit SimHash computed PER ROW (token-hash array + 64
    * in-row bit-sum folds — no explode, no shuffle, no join to carry the
    * block column back), appended as `simhash` with every input column
    * preserved. Identical values to `simhash64` (pinned in
    * TextDedupSpec): same md5 token hash, same ±1 bit sums, just folded
    * in-row. Streaming-safe (stateless map) and the default batch shape;
    * the exploded+grouped `simhash64` remains for pathological single
    * rows whose token array should not sit in one buffer. */
  def withRowwiseSimhash64(df: DataFrame, textCol: String): DataFrame = {
    // token-hash array materialized once — a lambda referencing an
    // unmaterialized expensive array inlines it PER ELEMENT
    val staged = df.withColumn("__hv",
      transform(Text.tokens(col(textCol)), t => Text.tokenHash64(t)))
    val sim = (0 until 64).map { j =>
      val bitSum = aggregate(col("__hv"), lit(0),
        (acc, hv) => acc +
          when(shiftright(hv, j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // null text → NULL simhash (each bit's otherwise(0) would otherwise
    // collapse null to hash 0, pairing all null-text docs at hamming 0;
    // the grouped form drops such rows via explode, and a null band_val
    // equi-joins nothing, so null-sim rows produce no pairs here either)
    staged.withColumn("simhash", when(col("__hv").isNotNull, sim)).drop("__hv")
  }

  /** Band decomposition of a 64-bit simhash for pigeonhole blocking:
    * array of k (band_idx, band_val) structs, band widths as equal as
    * 64/k allows. Two hashes within hamming d differ in at most d bands,
    * so with k > d they AGREE on at least one band — banding can only
    * add candidates, never lose a true pair. (shiftright on the signed
    * long sign-extends; the width mask clears the extension, so the top
    * band is extracted correctly.) */
  def simhashBandStructs(simCol: Column, k: Int): Column = {
    require(k >= 1 && k <= 64, s"band count must be in [1,64], got $k")
    val base = 64 / k; val extra = 64 % k
    val bounds = (0 until k).scanLeft(0)((lo, j) => lo + base + (if (j < extra) 1 else 0))
    array((0 until k).map { j =>
      val lo = bounds(j); val w = bounds(j + 1) - lo
      val mask = if (w == 64) -1L else (1L << w) - 1
      struct(lit(j).as("band_idx"),
        shiftright(simCol, lo).bitwiseAND(lit(mask)).as("band_val"))
    }: _*)
  }

  /** C(k, d) without overflow drama: returns `cap + 1` as soon as the
    * running value exceeds `cap` (callers only compare against a table
    * budget). */
  private def choose(k: Int, d: Int, cap: Long): Long = {
    val m = math.min(d, k - d)
    var v = 1L
    var i = 1
    while (i <= m) {
      v = v * (k - m + i) / i // exact: prefix products of C are integral
      if (v > cap) return cap + 1
      i += 1
    }
    v
  }

  /** The narrowest packed key any (k−d)-block combination can have when
    * 64 bits split into k near-equal blocks: the (k−d) narrowest blocks
    * concatenated. */
  private def minComboWidth(k: Int, d: Int): Int = {
    val base = 64 / k; val extra = 64 % k
    (k - d) * base + math.max(0, extra - d)
  }

  /** Combination-banding operating point (Manku/Jain/Sarma): the block
    * count k ≥ d+1 sized to the CORPUS, so candidate volume stays ~linear
    * in n instead of quadratic at a fixed point. With k blocks and
    * hamming ≤ d, a true pair agrees on ≥ k−d blocks, so candidates come
    * from C(k, d) tables each keyed on a (k−d)-block concatenation of
    * width W ≈ 64(k−d)/k bits — expected collisions ≈ C(k,d) · n²/2^W
    * under random bits. The rule: the smallest k whose expected volume is
    * ≤ `candidatesPerDoc`·n, capped by the C(k,d) ≤ `maxTables` explode
    * budget (past the cap the widest feasible k wins — volume then grows
    * with n²/2^W(k_max), still a ~2^30× smaller constant than the minimal
    * point at k_max = d+9, d = 3). k = d+1 (one-block tables) is the
    * d-knob's old fixed point and what tiny corpora get. Real token
    * distributions skew bits, so the uniform estimate is optimistic by a
    * corpus-dependent factor — `candidatesPerDoc` is the margin, and the
    * 10× growth property is pinned in SimhashScaleSpec, not assumed. */
  def simhashOperatingPoint(maxHamming: Int, corpusSize: Long,
                            maxTables: Int = 256,
                            candidatesPerDoc: Int = 8): Int = {
    val d = maxHamming
    if (d <= 0 || d >= 63) return math.max(1, math.min(64, d + 1))
    val n = math.max(1L, corpusSize).toDouble
    var k = d + 1
    var best = k
    while (k < 64) {
      val tables = choose(k, d, maxTables.toLong)
      if (tables > maxTables) return best
      best = k
      val vol = tables.toDouble * n * n / math.pow(2.0, minComboWidth(k, d))
      if (vol <= candidatesPerDoc.toDouble * n) return k
      k += 1
    }
    best
  }

  /** One (band_idx, band_val) struct per (k−d)-block combination — the
    * combination-banding generalization of [[simhashBandStructs]]:
    * band_val packs the selected blocks' values into one long (total
    * selected width < 64 whenever d ≥ 1). At k = d+1 the combinations
    * are exactly the single blocks, so the minimal operating point emits
    * the same candidates as the classic banding. */
  def simhashComboStructs(simCol: Column, k: Int, d: Int): Column = {
    require(k >= d + 1 && k <= 64 && d >= 1,
      s"need maxHamming >= 1 and blocks in [d+1, 64], got k=$k d=$d")
    require(choose(k, d, 4096L) <= 4096L,
      s"C($k, $d) combination tables explode the per-row struct array " +
        "(operating points from simhashOperatingPoint stay <= 256)")
    val base = 64 / k; val extra = 64 % k
    val bounds = (0 until k).scanLeft(0)((lo, j) =>
      lo + base + (if (j < extra) 1 else 0))
    val combos = (0 until k).combinations(k - d).toSeq
    array(combos.zipWithIndex.map { case (sel, ci) =>
      var key: Column = lit(0L)
      var shift = 0
      sel.foreach { j =>
        val lo = bounds(j); val w = bounds(j + 1) - lo
        val mask = if (w == 64) -1L else (1L << w) - 1
        key = key + (shiftright(simCol, lo).bitwiseAND(lit(mask)) *
          lit(1L << shift))
        shift += w
      }
      struct(lit(ci).as("band_idx"), key.as("band_val"))
    }: _*)
  }

  /** Candidate pairs within a block sharing >= 1 simhash band — the
    * skew-safe replacement for all-pairs-within-block. A single giant
    * block (one crawl source dominating a 100 TB corpus) costs
    * Σ bucket² over (band, band_val) buckets, not block², and similar
    * docs concentrate in shared buckets by construction. `sims` must
    * carry (idCol, blockCol, simhash). `numBlocks` picks the
    * combination-banding operating point (0 → the minimal d+1-block
    * point; see [[simhashOperatingPoint]]) — candidates can differ
    * between points, the verified pair set never does. */
  def simhashBandCandidates(sims: DataFrame, idCol: String, blockCol: String,
                            maxHamming: Int, numBlocks: Int = 0): DataFrame = {
    // Degenerate bound: at maxHamming >= 64 EVERY in-block pair qualifies
    // on a 64-bit hash, and banding cannot deliver it — with the maximal
    // 64 one-bit bands, an exact-complement pair (hamming 64) disagrees
    // on every band and would be silently dropped. Honor the documented
    // "identical output to the all-pairs self-join" contract with the
    // literal all-pairs join instead (the caller asked for all pairs).
    if (maxHamming >= 64) {
      val a = sims.select(col(blockCol), col(idCol).as("id_a"), col("simhash").as("sim_a"))
      val b = sims.select(col(blockCol), col(idCol).as("id_b"), col("simhash").as("sim_b"))
      return a.join(b, Seq(blockCol))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
    }
    simhashBandCandidatesRaw(sims, idCol, blockCol, maxHamming, numBlocks)
      // a pair sharing m bands surfaces m times; the sim columns are
      // functionally dependent on the ids, so keep-any dedup is exact
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
  }

  /** The band self-join WITHOUT the pair dedup: a pair sharing m bands
    * surfaces m ≤ C(numBlocks, maxHamming) times. Callers that verify
    * candidates (hamming filter) should do so on THIS frame and dedup
    * the survivors — the dedup is a shuffle, and shuffling |candidates|
    * rows to then discard most of them was q_simhash's dominant sf1
    * cost; the hamming test is a per-row xor+bit_count that runs inside
    * the join stage for free. */
  private def simhashBandCandidatesRaw(sims: DataFrame, idCol: String,
                                       blockCol: String, maxHamming: Int,
                                       numBlocks: Int = 0): DataFrame = {
    val k = if (numBlocks > 0) numBlocks
            else maxHamming + 1 // pigeonhole: > maxHamming bands
    require(k >= maxHamming + 1,
      s"completeness needs blocks > maxHamming, got k=$k d=$maxHamming")
    // d = 0 degenerates to exact-hash equality: one full-hash table
    // (comboStructs needs d >= 1 so the packed key stays under 64 bits)
    val structs = if (maxHamming == 0) simhashBandStructs(col("simhash"), 1)
                  else simhashComboStructs(col("simhash"), k, maxHamming)
    val banded = sims.select(col(blockCol), col(idCol), col("simhash"),
        explode(structs).as("__b"))
      .select(col(blockCol), col(idCol), col("simhash"),
        col("__b.band_idx").as("band_idx"), col("__b.band_val").as("band_val"))
    val a = banded.select(col(blockCol), col("band_idx"), col("band_val"),
      col(idCol).as("id_a"), col("simhash").as("sim_a"))
    val b = banded.select(col(blockCol), col("band_idx"), col("band_val"),
      col(idCol).as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq(blockCol, "band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
  }

  /** SimHash near-dup pairs within a blocking key, hamming distance <=
    * maxHamming (bit_count of xor). Band-blocked: candidates come from
    * simhash-band buckets (pigeonhole-complete for the hamming bound),
    * then exact hamming verifies — identical output to the all-pairs
    * self-join, with candidate count ∝ band-bucket sizes instead of
    * block size squared (asserted in TextDedupSpec).
    *
    * MATERIALIZATION / STALENESS CONTRACT (ADVICE, round 14): the
    * signature frame is memoized in the session-lifetime plan-keyed
    * parquet store — the first call per (session, input plan, id/block/
    * text columns) EAGERLY writes the signatures to local parquet, and
    * every later call with the same key (including other operating
    * points: maxHamming/numBlocks do not key the memo) reads that
    * store. Consequences for callers: (a) a caller that REWRITES the
    * underlying files in-session and re-runs the same plan gets
    * signatures computed from the OLD files — one session per data
    * generation, the same contract as every other store-backed chain;
    * (b) a one-shot call on a novel input frame pays the store write up
    * front. Streaming inputs bypass the memo by construction. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      blockCol: String, maxHamming: Int,
                      numBlocks: Int = 0): DataFrame = {
    val sims = simhashSigTable(docs, idCol, textCol, blockCol)
    // verify BEFORE dedup: the hamming test runs inside the join stage,
    // so only true near-dups (×band multiplicity) reach the dedup
    // shuffle — never the full candidate volume
    val raw = if (maxHamming >= 64)
      simhashBandCandidates(sims, idCol, blockCol, maxHamming)
    else simhashBandCandidatesRaw(sims, idCol, blockCol, maxHamming, numBlocks)
    raw
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The shared (id, block, simhash) signature table every simhash
    * operating point reads — one row per doc, read twice by the band
    * self-join. Plan-keyed STORE, not persist() (round 14): a facade
    * persist leaks one cached frame per call (the round-13 leak class
    * the graph tier was purged of), and the memo additionally shares
    * the signature fold across OPERATING POINTS — q_simhash (d=8) and
    * q_simhash_d3 build the identical sims frame and each paid its own
    * corpus-wide hash fold (~6 task-s at sf0.1). Row-wise simhash keeps
    * the block column on the row: no shuffle, no join-back (the grouped
    * form previously cost an explode + 64-way bit aggregation + join).
    * Exposed so the bench can time the one-time fold on its OWN line
    * (chain_simhash_sigs) per the shared-intermediate attribution
    * contract (round-14 verdict):
    * consumers' numbers stay their marginal band-join cost. */
  def simhashSigTable(docs: DataFrame, idCol: String, textCol: String,
                      blockCol: String): DataFrame =
    graft.store.Memo(docs, s"simhash_sims|$idCol|$blockCol|$textCol") {
      withRowwiseSimhash64(
          docs.select(col(idCol), col(blockCol), col(textCol)), textCol)
        .select(col(idCol), col(blockCol), col("simhash"))
    }

  /** [[simhashNearDups]] at the corpus-sized combination-banding point:
    * one count job picks the block count (see [[simhashOperatingPoint]]),
    * so candidate volume tracks ~n instead of n² as the corpus grows.
    * Identical verified pairs at every operating point (pinned in
    * SimhashScaleSpec) — the knob moves COST, never semantics. */
  def simhashNearDupsAdaptive(docs: DataFrame, idCol: String, textCol: String,
                              blockCol: String, maxHamming: Int): DataFrame =
    simhashNearDups(docs, idCol, textCol, blockCol, maxHamming,
      simhashOperatingPoint(maxHamming, docs.count()))
}

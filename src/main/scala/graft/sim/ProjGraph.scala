package graft.sim

import graft.ops.GlobalRank
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sub-quadratic approximate kNN graph via projection-sort
  * candidate windows — the scale-path replacement for the exact IVF
  * mutual-kNN build, whose Θ(n^1.5/√cells) envelope measured 18.7× at
  * 10× data (in-envelope, but ~1000× work at 100×).
  *
  * Construction (every step linear in n, and exactly reproducible in
  * ANSI SQL, so consumer oracles mirror it rather than trusting recall):
  *
  *  1. Quantize each float component to an exact integer
  *     (floor(x·2²⁴ + 0.5) — float-to-double is exact, the product by a
  *     power of two is exact, so both engines get bit-identical longs).
  *  2. P deterministic ±1 hyperplane projections: score_p(v) =
  *     Σ_i w(p,i)·q_i — an ORDER-FREE integer sum (the documented
  *     float-mean parity discipline), weights from a 2-round
  *     LCG+xorshift mixer of (p, i) that both engines compute in plain
  *     64-bit-safe integer arithmetic (all intermediates < 2⁶², so
  *     DuckDB's overflow-checked BIGINT never trips).
  *  3. Rank each projection's scores ((p, score, vec_id) order — unique
  *     keys) with the distributed global rank, and take as candidates
  *     every pair within rank distance ≤ W in some projection: nearby
  *     vectors project nearby, so true neighbours co-occur in at least
  *     one window with high probability (the classic random-projection
  *     sliding-window dedup scheme).
  *  4. One neighbour-of-neighbour expansion round (NN-Descent's core
  *     step, non-recursive so the SQL twin stays a plain CTE): the
  *     provisional top-k's 2-hop pairs join the candidate set.
  *  5. Exact 6-dp cosine re-rank of the candidates per source, top-k
  *     (cos DESC, dst ASC), then the mutual filter.
  *
  * Scale shape: map-only scoring, one range shuffle for the rank, W-fold
  * id-only explode for the window join, id-keyed joins for re-rank — no
  * per-block quadratic anywhere; candidates per node ≤ 2·P·W + k², so
  * total work is Θ(n·(P·W + k²)·dim). Recall is AUDITED, not assumed:
  * q_mutual_recall scores the directed top-k against brute-force ground
  * truth per probe, and the consumer oracles reproduce this exact
  * construction, so correctness never rides on recall. */
object ProjGraph {

  /** Projections / window / quantization — shared with the SQL twin
    * (Breadth141.projMutualCtes); change BOTH or parity breaks. Sized
    * on the synthetic corpus, which is RANDOM noise (within-label
    * cosine == cross-label — the documented perceptron finding), the
    * hardest possible ANN regime: measured directed top-4 recall 0.96
    * at sf0.01 / 0.59 at sf0.1 (probe nodes 4/4 at the sf0.01 gate),
    * where NN-Descent expansion adds almost nothing because random
    * data has no neighbour-of-neighbour structure. On a real clustered
    * corpus the same parameters land far higher; q_mutual_recall keeps
    * the measurement honest either way. */
  private[graft] val NumProj = 16
  private[graft] val WindowW = 32
  private[graft] val QScale = 16777216.0 // 2^24

  /** n-adaptive window width — the documented RECALL KNOB (round-14
    * verdict): W doubles for every 4x of corpus past 512 rows (W ∝ √n),
    * so the window keeps pace with per-cluster rank-run growth on
    * clustered corpora. ENGAGING IT IS A COST CHOICE, not the default:
    * candidate work is Θ(n·P·W), so adaptive W makes the build Θ(n^1.5)
    * — the exact trade the fixed-W default exists to avoid. The default
    * build stays at WindowW (linear, the 100 TB path); the clustered
    * recall audit (q_mutual_recall_clustered) runs the adaptive rule so
    * the recall the knob buys is MEASURED, differentially, at every SF.
    * Closed form (oracle twin, exact at the 512·4^k boundaries because
    * log2 of an exact power of two is exact in doubles):
    * W(n) = WindowW · 2^max(0, ceil(log2(n/512)/2)). */
  private[graft] def adaptiveWindow(n: Long): Int = {
    var w = WindowW
    var cap = 512L
    while (cap < n) { cap *= 4; w *= 2 }
    w
  }

  /** ±1 weight for (projection p, 1-based dim i): two LCG rounds with a
    * 16-bit xorshift between them, bit 0 as the sign. Operands stay
    * below 2³¹ so every product is < 2⁶² (DuckDB BIGINT-safe). */
  private def wsign(p: Int, i1: Column): Column = {
    val h1 = (i1 * lit(1103515245L) + lit((p + 1) * 12345L)) % lit(2147483648L)
    val h2 = h1.bitwiseXOR(shiftright(h1, 16))
    val h3 = (h2 * lit(1103515245L) + lit(12345L)) % lit(2147483648L)
    val h4 = h3.bitwiseXOR(shiftright(h3, 16))
    when(h4 % 2 === 1, lit(1L)).otherwise(lit(-1L))
  }

  /** Exact integer projection score of the vector under projection p. */
  private def scoreExpr(vecCol: Column, p: Int): Column =
    aggregate(
      transform(vecCol, (x, i) =>
        wsign(p, i.cast("long") + lit(1L)) *
          floor(x.cast("double") * lit(QScale) + lit(0.5)).cast("long")),
      lit(0L), (acc, t) => acc + t)

  /** (id, p, score[, vector]) — one row per vector per projection,
    * map-only. */
  private[graft] def projScores(emb: DataFrame, idCol: String,
                                vecCol: String,
                                keepVec: Boolean = false): DataFrame = {
    val base = emb.select(col(idCol),
        explode(array((0 until NumProj).map(p =>
          struct(lit(p).as("p"), scoreExpr(col(vecCol), p).as("score"))): _*))
          .as("__ps"),
        col(vecCol))
      .select(col(idCol), col("__ps.p").as("p"), col("__ps.score").as("score"),
        col(vecCol))
    if (keepVec) base else base.drop(vecCol)
  }

  /** Canonical (id_a < id_b) distinct candidate pairs from the P
    * projection-sort windows. */
  private[graft] def windowCandidates(emb: DataFrame, idCol: String,
                                      vecCol: String,
                                      window: Int = WindowW): DataFrame = {
    val ranked = GlobalRank.withGlobalRank(
      projScores(emb, idCol, vecCol), "__grk",
      col("p"), col("score"), col(idCol))
    // rank differences within a projection equal combined-rank
    // differences (each p's section is contiguous), so the W-successor
    // join is a plain equi-join on (p, rank+j) — ids only, W-fold
    // explode on one side, never a range join.
    val aSide = ranked.select(col("p"), col("__grk"), col(idCol).as("__sa"))
      .withColumn("__j", explode(array((1 to window).map(lit): _*)))
      .select(col("p"), (col("__grk") + col("__j")).as("__grk"), col("__sa"))
    val bSide = ranked.select(col("p"), col("__grk"), col(idCol).as("__sb"))
    aSide.join(bSide, Seq("p", "__grk"))
      .select(least(col("__sa"), col("__sb")).as("id_a"),
        greatest(col("__sa"), col("__sb")).as("id_b"))
      .distinct()
  }

  /** Canonical (id_a, id_b, cos) rows (cross-projection duplicates
    * allowed) for every projection-window pair,
    * scored PARTITION-LOCALLY — the 100-TB-critical shape. The naive
    * formulation (id-only candidate join, then two vector joins onto
    * the pair stream) drags a dim-wide vector through a sort-merge
    * shuffle of n·P·W pair rows — measured at 100× data as a
    * multi-GB spilling shuffle that dominated the whole build. Here
    * vectors cross exactly TWO narrow shuffles (the n·P-row range
    * partition and the pid-hash window exchange); the W-successor
    * frames, the pair explosion, and the exact cosines all evaluate
    * INSIDE one whole-stage pipeline, and only 24-byte skinny rows
    * reach the dedup shuffle.
    *
    * Boundary pairs: each partition's first W rows are replicated into
    * the PREVIOUS partition (flagged non-anchor), so a row near a
    * partition tail still sees its true W global successors; pairs are
    * emitted only from original anchors, and the canonical distinct
    * removes the cross-projection duplicates. The pair SET is exactly
    * the rank-join definition's (same-p pairs within combined-rank
    * distance ≤ W), which is what the SQL twin computes — the range
    * boundaries never affect the result.
    *
    * Tiny-input guard: if any non-final partition holds fewer than W
    * rows (possible only for corpora small enough that the join path
    * is cheap anyway), a replica hop cannot cover the window and the
    * build falls back to the rank-join formulation — same output, by
    * the same definition. */
  private[graft] def windowScoredPairs(emb: DataFrame, idCol: String,
                                       vecCol: String,
                                       window: Int = WindowW): DataFrame = {
    // Materialization boundary through the plan-keyed PARQUET store, not
    // localCheckpoint (round-14 verdict): the n·P-row vector-bearing
    // frame is 16x the corpus — localCheckpoint parks it in NON-RELIABLE
    // executor-local storage (one lost executor = rebuild-from-scratch
    // at 100 TB), while the store is the same reliable-parquet boundary
    // every chain intermediate already uses (on a cluster: HDFS/S3).
    // `__pid` is computed BEFORE the write and persists as a column, so
    // the range-partition assignment survives the round-trip; everything
    // downstream shuffles by the stored pid, never by file layout.
    // The sizing count runs INSIDE the memo block: a memo-hit call
    // (every consumer after the chain build) pays zero jobs for it. The
    // build writes the boundary itself, so a memo-bypassing caller (the
    // bench's chain resample) still reads a stored frame.
    val parted = graft.store.Memo(emb, s"projwin|$idCol|$vecCol") {
      val nRows = emb.count() * NumProj
      // ~4096 rows per range partition: every pid group's window buffer
      // stays ~1 MB of vector rows (a group must fit memory comfortably —
      // the pid-hash exchange packs MANY pids per reduce task, so small
      // groups, not few, is what bounds task memory), while still ≥ 8·W
      // rows so the boundary-replica hop always covers the window. Capped
      // at 65536 partitions (range-sampler driver work), far past any
      // single-box corpus.
      val targetParts = math.max(1L, math.min(nRows / 4096L, 65536L)).toInt
      graft.store.Memo.write(projScores(emb, idCol, vecCol, keepVec = true)
        .repartitionByRange(targetParts, col("p"), col("score"), col(idCol))
        .withColumn("__pid", spark_partition_id()))
    }
    val counts = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // pid domain from the DATA (file partitioning changed on reread):
    // range partitions are contiguous 0..max; an empty middle partition
    // is absent from `counts` and correctly reads as underfull below.
    val nParts = counts.keys.foldLeft(-1)(math.max) + 1
    val underfull = (0 until nParts - 1)
      .exists(pid => counts.getOrElse(pid, 0L) < window.toLong)
    val elemIsFloat = emb.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    if (underfull || !elemIsFloat) {
      scorePairs(windowCandidates(emb, idCol, vecCol, window), emb, idCol, vecCol)
    } else {
      val sp = emb.sparkSession
      import sp.implicits._
      val ord = Seq(col("p"), col("score"), col(idCol))
      val wHead = Window.partitionBy(col("__pid")).orderBy(ord: _*)
      val heads = parted
        .withColumn("__rn", row_number().over(wHead))
        .filter(col("__rn") <= window && col("__pid") > 0)
        .withColumn("__pid", col("__pid") - lit(1))
        .drop("__rn")
        .withColumn("__orig", lit(false))
      val all = parted.withColumn("__orig", lit(true)).unionByName(heads)
        .select(col("p"), col("score"), col(idCol).as("id"),
          col(vecCol).as("vec"), col("__pid").as("pid"), col("__orig").as("orig"))
        .as[PRow]
      // Ring-buffer sliding scan (mapPartitions — the one genuinely
      // per-partition-imperative shape in the module): a window
      // aggregate (collect_list/lead over vector structs) re-copies W
      // vector rows per anchor — measured at 100× data as ~60 GB of
      // UnsafeRow churn for ~12 GFLOP of actual math. Here each row is
      // decoded once, pairs score against the ≤W ring entries in place,
      // and only skinny (id_a, id_b, cos) rows leave the stage. The
      // ring resets at every pid boundary; replica rows (orig=false)
      // never anchor a pair, so cross-boundary pairs are emitted
      // exactly once, by the partition that owns the anchor.
      all.repartition(col("pid"))
        .sortWithinPartitions(col("pid"), col("p"), col("score"), col("id"))
        .mapPartitions { it =>
          val ring = new scala.collection.mutable.ArrayDeque[RingEntry]()
          var curPid = Int.MinValue
          it.flatMap { r =>
            if (r.pid != curPid) { ring.clear(); curPid = r.pid }
            val rv = r.vec.toArray
            val out = ring.iterator.filter(e => e.orig && e.p == r.p)
              .map { e =>
                PairRow(math.min(e.id, r.id), math.max(e.id, r.id),
                  roundedCosine(e.vec, rv))
              }.toList
            ring.append(RingEntry(r.p, r.id, rv, r.orig))
            if (ring.size > window) ring.removeHead(): Unit
            out
          }
        }
        .toDF("id_a", "id_b", "cos")
      // NO global dedup here: cross-projection duplicates are rare on
      // the candidate stream but the n·P·W-key hash-distinct is not —
      // the top-k consumer ranks duplicates away with dense_rank
      // (topKDirectedScored) and the expansion's anti-join is
      // duplicate-tolerant.
    }
  }

  /** Encoder row types for the ring scan (PUBLIC: the generated
    * deserializer cannot access private members). */
  case class PRow(p: Int, score: Long, id: Long, vec: Seq[Float],
                  pid: Int, orig: Boolean)
  private[sim] case class RingEntry(p: Int, id: Long, vec: Array[Float],
                                    orig: Boolean)
  case class PairRow(id_a: Long, id_b: Long, cos: Option[Double])

  /** Bit-exact Scala twin of `round(Similarity.cosine(a, b), 6)`: the
    * same single left-to-right fold as the native codegen expression
    * (dot/na/nb accumulated together, result dot/(√na·√nb)), then
    * Spark's HALF_UP decimal rounding (the Streams.round4 pattern).
    * Zero norm → None, matching the expression's null. */
  private[graft] def roundedCosine(a: Array[Float],
                                   b: Array[Float]): Option[Double] = {
    if (a.length != b.length) return None
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val xi = a(i).toDouble; val yi = b(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) None
    else Some(java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  }

  /** Exact 6-dp cosine for canonical id pairs (vectors join on once). */
  private def scorePairs(pairs: DataFrame, emb: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    val va = emb.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = emb.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos",
        round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Directed per-src top-k rows (src, dst, cos) from canonically-
    * scored pairs that may carry CROSS-PROJECTION DUPLICATES: a
    * dense_rank over (cos DESC, dst ASC) gives duplicates of a pair the
    * same rank (dst is unique per distinct pair, so the full order key
    * collides exactly on duplicates), making it equal to row_number
    * over the deduped stream — WITHOUT the n·P·W-key hash-distinct,
    * which at 100× data was a spilling high-cardinality aggregate (no
    * map-side collapse: duplicates only meet across projections). The
    * tiny post-filter dedup runs on n·k rows. */
  private def topKDirectedScored(scored: DataFrame, k: Int): DataFrame = {
    // ONE pass over the scored pairs (round 15): the two-branch union
    // read the n·P·W-row seed frame twice — without a checkpoint that
    // doubles the ring scan, with one it forces a serial
    // materialization job. The explode emits both directions from a
    // single read, so the upstream needs neither.
    val dirs = scored.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("cos")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("cos"))))
        .as("__d"))
      .select(col("__d.src").as("src"), col("__d.dst").as("dst"),
        col("__d.cos").as("cos"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    dirs.withColumn("__rn", dense_rank().over(w))
      .filter(col("__rn") <= k)
      .select(col("src"), col("dst"), col("cos"))
      .dropDuplicates("src", "dst")
  }

  /** Approximate DIRECTED top-k: projection-window candidates, one
    * neighbour-of-neighbour expansion, exact cosine re-rank. */
  def approxDirectedTopK(emb: DataFrame, k: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         window: Int = WindowW): DataFrame = {
    // the provisional top-k is derived from the scored seed pairs and
    // reused by the expansion AND the final rank — checkpoint it once
    // (the exactKnnDirected boundary discipline). EAGER deliberately
    // (round-14 A/B): lazily-marked seeds let the final DAG's
    // concurrent readers race on uncomputed ring-scan partitions —
    // measured chain_global_mutual resample task-s 13.8 → 16.1-16.4
    // with no wall win. The seed-pair frame itself is NO LONGER
    // checkpointed (round 15): its only reader is the top-k rank
    // (topKDirectedScored's explode doubles directions in one pass),
    // so the ring scan materializes exactly once inside the seedTop
    // checkpoint job — one serial job and one n·P·W-row write/read
    // cycle removed.
    val seedScored = windowScoredPairs(emb, idCol, vecCol, window)
    val seedTop = topKDirectedScored(seedScored, k)
      .localCheckpoint(eager = true)
    // 2-hop expansion: (a -> b, b -> c) => candidate (a, c); k² per
    // node, ids only until the re-rank join. Round 15: the expansion
    // pairs are NOT anti-joined against the seed pairs any more — that
    // anti-join re-shuffled the whole n·P·W-row seed frame by pair key
    // (the chain's largest exchange, guide §2.3) just to avoid
    // re-scoring ≤ n·k² pairs whose cosines are deterministic. A
    // re-scored duplicate carries the identical (cos, dst), so the
    // final dense_rank + (src, dst) dedup collapses it — the dedup
    // reuses the window's src-partitioning (no extra exchange) and
    // runs on n·k rows.
    val hop2 = seedTop.select(col("src"), col("dst").as("__mid"))
      .join(seedTop.select(col("src").as("__mid"), col("dst").as("__far")),
        "__mid")
      .filter(col("src") =!= col("__far"))
      .select(least(col("src"), col("__far")).as("id_a"),
        greatest(col("src"), col("__far")).as("id_b"))
      .distinct()
    val hop2Scored = scorePairs(hop2, emb, idCol, vecCol)
    // Final rank inputs are the SEED TOP-K rows plus the expansion's
    // pairs, not all n·P·W seed pairs again: a seed candidate of src
    // ranked below its seed top-k is dominated by k still-present
    // better candidates, so it can never enter the final top-k — the
    // output is provably identical to ranking the full union (which is
    // what the SQL twin ranks), at a window input of n·k + |hop2| rows
    // instead of 2·n·P·W. The same domination argument covers the
    // re-scored duplicates the dropped anti-join used to remove: a
    // duplicate of a seed pair ranks exactly where its original does,
    // and dense_rank + dedup keeps one copy (the topKDirectedScored
    // equivalence — dst is unique per distinct pair, so duplicates
    // collide on the full order key).
    val finalDirs = seedTop
      .unionByName(hop2Scored.select(col("id_a").as("src"),
        col("id_b").as("dst"), col("cos")))
      .unionByName(hop2Scored.select(col("id_b").as("src"),
        col("id_a").as("dst"), col("cos")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    finalDirs.withColumn("__rn", dense_rank().over(w))
      .filter(col("__rn") <= k)
      .dropDuplicates("src", "dst")
      .select(col("src"), col("dst"))
  }

  /** Approximate mutual undirected edges — the default global graph. */
  def approxMutualEdges(emb: DataFrame, k: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    graft.queries.Breadth101.mutualFromDirected(
      approxDirectedTopK(emb, k, idCol, vecCol))
}

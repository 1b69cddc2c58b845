package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.store.Memo
import Extensions.{Bands, JaccThreshold, NumHashes, ShingleLen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The registry of shared intermediates ("chains"): the pairs, cluster,
  * bar and ANN tables several queries read, declared ONCE each — name,
  * input table, upstream chains, build. At warehouse scale these are the
  * materialized tables every job reads; here each is a [[graft.store.Memo]]
  * entry keyed on its input table, so a harness running the queries back
  * to back pays every build once.
  *
  * From one declaration the bench gets:
  *  - the memo accessor (`chain(s, dir)`), which consumers call too;
  *  - the chain line: every chain is timed on its OWN line, in
  *    registry order, before any consumer — otherwise a build lands on
  *    whichever query touches it first and hides regressions in the chain
  *    itself (q_dup_survivorship at 9.3 s was the chain, not the query);
  *  - the memo-bypassing resample ([[Chain.rebuild]]): the chain's own
  *    work from a [[graft.store.Memo.fresh]] input, upstream chains still
  *    read through the store (a chain line is its MARGINAL cost — the
  *    upstream has its own line).
  */
object Chains {

  /** An input table and the column the resample salts. */
  final case class Table(read: (SparkSession, String) => DataFrame,
                         saltCol: String)
  val Docs = Table(Tables.documents, "doc_id")
  val Emb = Table(Tables.embeddings, "vec_id")
  val Events = Table(Tables.events, "event_id")
  val Lineitem = Table(Tables.lineitem, "l_orderkey")

  /** One chain: `build(input, up)` derives it from its input table and
    * the stored frames of its `upstream` chains (read through `up`). */
  final class Chain(val name: String, val table: Table, val upstream: Chain*)(
      build: (DataFrame, Chain => DataFrame) => DataFrame) {
    private def up(s: SparkSession, dir: String)(c: Chain): DataFrame = {
      require(upstream.contains(c), s"$name does not declare ${c.name}")
      c(s, dir)
    }

    /** The memoized chain frame. */
    def apply(s: SparkSession, dir: String): DataFrame = {
      val in = table.read(s, dir)
      Memo(in, name)(build(in, up(s, dir)))
    }

    /** The chain's own build again from a salted input, never looked up
      * in or written to the store. */
    def rebuild(s: SparkSession, dir: String): DataFrame =
      build(Memo.fresh(table.read(s, dir), table.saltCol), up(s, dir))
  }

  /** Row-per-doc MinHash signatures: deterministic per document, so the
    * warehouse materializes them once per corpus snapshot and every
    * dedup / estimation pass reads the table instead of re-hashing every
    * shingle (verified pairs; q_minhash_est's sketch-error audit). */
  val MinhashSigs = new Chain("chain_minhash_sigs", Docs)((docs, _) =>
    Dedup.minhashSignatures(docs, "doc_id", "text", ShingleLen, NumHashes))

  /** Verified MinHash near-dup pairs, built FROM the stored signatures:
    * q_dedup_minhash, q_dedup_clusters, q_dedup_apply and friends read
    * the same pairs table. */
  val MinhashPairs = new Chain("chain_minhash_pairs", Docs, MinhashSigs)(
    (docs, up) => Dedup.minhashNearDupsFromSigs(up(MinhashSigs), docs,
      "doc_id", "text", ShingleLen, NumHashes, Bands, JaccThreshold))

  /** Duplicate-cluster assignment over the verified pairs. The build runs
    * the propagation jobs; its per-generation checkpoints become garbage
    * once the final generation is stored. */
  val DupClusters = new Chain("chain_dup_clusters", Docs, MinhashPairs)(
    (_, up) => Dedup.clusterMembers(up(MinhashPairs), "doc_id"))

  /** SimHash signature fold shared by q_simhash (d=8) and q_simhash_d3. */
  val SimhashSigs = new Chain("chain_simhash_sigs", Docs)((docs, _) =>
    Dedup.simhashSigTable(docs, "doc_id", "text", "source"))

  /** (order, part) basket pair counts shared by q_market_basket and
    * q_part_affinity. */
  val BasketPairs = new Chain("chain_basket_pairs", Lineitem)((li, _) =>
    Breadth59.pairTable(li))

  /** Embedding near-dup pairs (LSH-prefiltered): q_embed_neardup and
    * q_semantic_dedup read the same frame. */
  val EmbedPairs = new Chain("chain_embed_pairs", Emb)((emb, _) =>
    Similarity.cosineNearDupPairs(emb, "label", Extensions.CosThreshold))

  /** The (key, day) OHLC-bar grid every indicator query derives from the
    * events scan, with the canonical arguments all ~36 call sites use. */
  val DayBars = new Chain("chain_day_bars", Events)((ev, _) =>
    Breadth13.dayBarsCents(ev, "user_id", "ts", "value", "event_id"))

  /** The (key, day) traded-volume grid of the volume indicators. */
  val DayVols = new Chain("chain_day_vols", Events)((ev, _) =>
    Breadth27.dayVols(ev, "user_id", "ts", "k"))

  /** Brute-force cosine top-5 ground truth for the AnnProbes probe
    * vectors: q_embed_topk emits it and both ANN recall reports score
    * against it (each would otherwise pay a corpus-sized broadcast-NL
    * scan). */
  val BruteTopK = new Chain("chain_brute_topk", Emb)((emb, _) =>
    Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < Extensions.AnnProbes), emb, 5))

  /** The DIRECTED within-label kNN edges, stored once and shared by the
    * undirected graph below and the mutual-kNN consumers (q_kcore used
    * to re-run the whole IVF build inside the query). Not a chain line of
    * its own: chain_knn_edges' build stores it. */
  private[queries] def knnDirected(emb: DataFrame): DataFrame =
    Memo(emb, "knndir")(Breadth43.knnDirected(emb))

  /** Undirected within-label kNN edges (k = Breadth43.KnnK) — triangle
    * counting, link prediction and the graph tier read one graph. */
  val KnnEdges = new Chain("chain_knn_edges", Emb)((emb, _) =>
    Breadth43.undirect(knnDirected(emb)))

  /** Int8-quantized top-5 ranking shared by q_quant_ndcg and
    * q_recall_curve. */
  val QuantTopK = new Chain("chain_quant_topk", Emb)((emb, _) =>
    Breadth46.quantTop5Plan(emb))

  /** PQ ADC shortlist (top-PqShortlist per probe) shared by q_pq_adc,
    * q_pq_recall and the RRF fusion; the top-5 is a filter on it. */
  val PqTopK = new Chain("chain_pq_topk", Emb)((emb, _) =>
    Breadth121.pqShortlistPlan(emb))

  /** kNN-graph component labels (q_graph_components): the build runs a
    * propagation job per generation. */
  val KnnComponents = new Chain("chain_knn_components", Emb, KnnEdges)(
    (_, up) => Dedup.clusterMembers(up(KnnEdges), "vec_id",
      maxIters = Breadth49.CompIters))

  /** GLOBAL (label-blind) approximate directed top-k (graft.sim.ProjGraph),
    * stored once for the mutual edges below and q_mutual_recall's probe
    * filter. Not a chain line of its own: chain_global_mutual stores it. */
  private[queries] def globalApproxDirected(emb: DataFrame): DataFrame =
    Memo(emb, "gdir")(
      graft.sim.ProjGraph.approxDirectedTopK(emb, Breadth141.GlobalKnnK))

  /** GLOBAL mutual-kNN undirected edges — the modularity / closeness /
    * rich-club consumer tier's graph. */
  val GlobalMutual = new Chain("chain_global_mutual", Emb)((emb, _) =>
    Breadth101.mutualFromDirected(globalApproxDirected(emb)))

  /** Every chain, in bench line order (upstream before downstream). */
  val all: Seq[Chain] = Seq(MinhashSigs, MinhashPairs, DupClusters,
    SimhashSigs, BasketPairs, EmbedPairs, DayBars, DayVols, BruteTopK,
    KnnEdges, QuantTopK, PqTopK, KnnComponents, GlobalMutual)
}

package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.sim.Similarity
import graft.text.Text

/** `curation_batch`: a closed loop of full curation passes over a small
  * seeded corpus with planted near-duplicates. One pass = nearDupPairs
  * -> dedupKeepList, knnEdges, cosineNearDupPairs and a quality/language
  * scoring stage, each materialized through the noop sink (a timed
  * `count()` can column-prune a map-only build away). Every pass reads
  * fresh frames from the corpus files and the cache is cleared between
  * passes, so each pass does the whole work; the task count per pass is
  * asserted equal so a cache hit cannot pass as a speed-up.
  *
  * Set-up only opens the corpus, so the first measured pass is the
  * process's first: it pays first-use JIT and code generation, as a
  * submitted batch job does. At this size a pass is mostly fixed cost
  * (about 110 jobs and 220 generated classes compiled), not data. */
final class CurationBatch(spark: SparkSession, o: Opts) extends Workload {
  val clients = 1
  val Docs = 400
  val Vectors = 200
  val CosThreshold = 0.95

  private var dir: java.nio.file.Path = _
  /** Per pass: (op id, stage -> (rows, digest)). */
  private val results = mutable.ArrayBuffer.empty[(Long, Map[String, (Long, Long)])]

  /** Writes the seed's corpus once, untimed. */
  override def prepare(): Unit = {
    dir = o.work.resolve("cur")
    val corpus = new Gen.Corpus(o.seed, Docs, Vectors)
    import spark.implicits._
    corpus.docs.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir.resolve("documents").toString)
    corpus.embeddings.map(e => (e.vecId, e.embedding, e.label))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(dir.resolve("embeddings").toString)
  }

  /** Opens the corpus: both files read in full through the noop sink. */
  def setup(rep: Int): Unit =
    Seq(("documents", "doc_id", Docs), ("embeddings", "vec_id", Vectors)).foreach { case (f, id, n) =>
      val rows = stage(s"open.$f", spark.read.parquet(dir.resolve(f).toString), col(id))._1
      if (rows != n) throw new IllegalStateException(s"$f: $rows rows, expected $n")
    }

  /** Materializes `df` through the noop sink while an observation takes
    * its row count and an order-free digest of `key` columns. */
  private def stage(name: String, df: => DataFrame, key: Column*): (Long, Long) = {
    val obs = Observation(name)
    Main.current.span(name, rows = { case (n: Long, _) => n; case _ => -1L }) {
      df.observe(obs, count(lit(1)).as("n"),
          coalesce(sum(pmod(xxhash64(key: _*), lit(1L << 31))), lit(0L)).as("d"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      (m("n").asInstanceOf[Long], m("d").asInstanceOf[Long])
    }
  }

  private def pass(id: Long): Unit = {
    val docs = spark.read.parquet(dir.resolve("documents").toString)
    val emb = spark.read.parquet(dir.resolve("embeddings").toString)
    // computed once per pass: the keep list reuses the pairs stage's output
    val pairs = Graft.nearDupPairs(docs).persist()
    val r = Map(
      "dedup.near_dup" -> stage("dedup.near_dup", pairs, col("id_a"), col("id_b")),
      "dedup.keep_list" -> stage("dedup.keep_list",
        Graft.dedupKeepList(docs, pairs).filter(col("keep")), col("doc_id")),
      "sim.knn_edges" -> stage("sim.knn_edges", Graft.knnEdges(emb, 4), col("id_a"), col("id_b")),
      "sim.cos_pairs" -> stage("sim.cos_pairs",
        Similarity.cosineNearDupPairs(emb, "label", CosThreshold), col("id_a"), col("id_b")),
      "text.score" -> stage("text.score",
        docs.select(col("doc_id"), Text.langId(col("text")).as("lang_pred"),
          Text.qualityScore(col("text")).as("quality")),
        col("doc_id"), col("lang_pred"), col("quality")))
    // the documented contract between corpora: drop the Dedup/TopK persists
    spark.catalog.clearCache()
    results += (id -> r)
  }

  def op(client: Int, id: Long): (String, Boolean) = {
    pass(id)
    "pass" -> (sameAsFirst(results.last._2) && plausible(results.last._2))
  }

  private def sameAsFirst(r: Map[String, (Long, Long)]): Boolean =
    (if (o.corrupt) r.updated("sim.knn_edges", (r("sim.knn_edges")._1 + 1, 0L)) else r) == results.head._2

  /** Independent of the engine: every planted duplicate group is seen,
    * the kNN graph has between n*k/2 and n*k edges, every document is
    * kept or dropped once and scored once. */
  private def plausible(r: Map[String, (Long, Long)]): Boolean =
    r("dedup.near_dup")._1 >= Docs / 20 && r("dedup.keep_list")._1 < Docs &&
      r("dedup.keep_list")._1 >= Docs / 2 &&
      r("sim.knn_edges")._1 >= Vectors * 2L && r("sim.knn_edges")._1 <= Vectors * 4L &&
      r("sim.cos_pairs")._1 >= Vectors / 20 && r("text.score")._1 == Docs

  /** Every measured pass ran the same number of tasks; and the
    * counts and digests equal those any earlier run of this seed
    * recorded (kept in the work directory's parent). */
  def finish(ops: Seq[OpRec]): Set[Long] = {
    val tasks = results.map { case (id, _) =>
      id -> Option(Main.guard.perOp.get(id.toString)).map(_("tasks")).getOrElse(-1.0)
    }
    val measured = tasks.filter(_._1 >= 0)
    val want = Main.median(measured.map(_._2))
    val taskFail = measured.collect { case (id, t) if t != want => id }.toSet
    val digest = results.head._2.toSeq.sortBy(_._1).map { case (k, (n, d)) => s"$k:$n:$d" }.mkString("\n")
    val record = o.work.getParent.resolve(s"curation-expect-${o.seed}-$Docs-$Vectors.txt")
    val seedFail =
      if (Files.exists(record)) Files.readString(record) != digest
      else { Files.writeString(record, digest); false }
    if (seedFail) ops.map(_.id).toSet else taskFail
  }

  def layers(ops: Seq[OpRec], probe: Probe, trace: Trace): Map[String, Double] = {
    val ids = ops.filter(_.traced).map(_.id).toSet
    val spans = trace.all.filter(s => ids(s.op))
    def spanMs(name: String) = Main.median(spans.filter(_.name == name).map(_.ms))
    // LSH candidates before exact verification, counted once, untimed
    val docs = spark.read.parquet(dir.resolve("documents").toString)
    val cands = graft.dedup.Dedup.lshCandidates(graft.dedup.Dedup.lshBands(
      graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text", 3, 12), "doc_id", 4, 3), "doc_id").count()
    val verified = results.head._2("dedup.near_dup")._1.toDouble
    spark.catalog.clearCache()
    val (files, bytes) = Metrics.treeSize(dir)
    val resultRows = results.head._2.values.map(_._1).sum.toDouble
    Map(
      "dedup.near_dup_ms" -> spanMs("dedup.near_dup"),
      "dedup.keep_list_ms" -> spanMs("dedup.keep_list"),
      "dedup.verified_pairs" -> verified,
      "dedup.verify_yield" -> (if (cands > 0) verified / cands else 0.0),
      "sim.knn_edges_ms" -> spanMs("sim.knn_edges"),
      "sim.cos_pairs_ms" -> spanMs("sim.cos_pairs"),
      "text.score_ms" -> spanMs("text.score"),
      "scan.rows_per_result" -> probe.sums("scan_rows") / math.max(1.0, resultRows * ids.size),
      "store.files" -> files.toDouble,
      "store.bytes" -> bytes.toDouble)
  }

  def close(): Unit = ()
}

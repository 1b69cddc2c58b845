package graft.queries

import graft.Tables
import graft.sim.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Num.q6

/** Hundred-thirty-seventh wave — two data-SELECTION schedulers a
  * training pipeline runs after scoring/dedup:
  *
  *  - **q_kcenter**: greedy k-center (Gonzalez max-min) coreset over
  *    the embeddings — pick the seed (min vec_id), then k−1 times the
  *    vector whose WORST similarity to the selected set is smallest
  *    (argmin of max cosine, ties by vec_id): the classic diverse-
  *    subset selection with the 2-approximation guarantee. All
  *    comparisons on 1e-6-quantized cosines (exact integers on both
  *    engines); the oracle's recursive CTE picks each center by max
  *    over a UNIQUE packed key (1e6 − mc)·2³² + (2³² − id) — the MMR
  *    greedy-argmax-in-recursive-term pattern.
  *  - **q_curriculum**: round-robin curriculum order — rank documents
  *    within each source by length (the stand-in difficulty score),
  *    then interleave sources by (rank, source), emitting the first
  *    30 schedule positions. The fair-interleave scheduler that stops
  *    one giant crawl domain from monopolizing early training.
  *
  * Scale shape: k-center is k−1 lazily-unrolled generations, each one
  * |corpus|·|selected| broadcast product (selected is ≤ k rows) + one
  * aggregate + a TakeOrderedAndProject pick — no driver collect, no
  * single-partition shuffle, each generation localCheckpoint'd (the
  * HITS lineage discipline). Curriculum is two windows over
  * (source, rank) — aggregate-sized partitions. */
object Breadth136 {

  private[graft] val KCenters = 8
  private val CurriculumN = 30
  private val Pow32 = 4294967296L

  /** Greedy k-center selection: (pick, vec_id, mcos_q6) — mcos_q6 is
    * the picked vector's max q6-cosine to the PREVIOUSLY selected set
    * (NULL for the seed). */
  private[graft] def kcenter(emb: DataFrame, k: Int = KCenters): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val seed = base.orderBy(col("vec_id").asc).limit(1)
      .select(lit(1).as("pick"), col("vec_id"), col("embedding"),
        lit(null).cast("long").as("mcos_q6"))
    var selected = seed.localCheckpoint(eager = false)
    (2 to k).foreach { i =>
      val selV = selected.select(col("vec_id").as("__sid"),
        col("embedding").as("__sv"))
      val cand = base.join(selected.select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      val worst = cand.crossJoin(broadcast(selV))
        .withColumn("__c6", q6(Similarity.cosine(col("embedding"), col("__sv"))))
        .groupBy(col("vec_id")).agg(max(col("__c6")).as("__mc"))
      val pick = worst.orderBy(col("__mc").asc, col("vec_id").asc).limit(1)
        .join(base, "vec_id")
        .select(lit(i).as("pick"), col("vec_id"), col("embedding"),
          col("__mc").as("mcos_q6"))
      selected = selected.unionByName(pick).localCheckpoint(eager = false)
    }
    selected.select(col("pick"), col("vec_id"), col("mcos_q6"))
      .orderBy(col("pick").asc)
  }

  /** Round-robin curriculum order over (source, length-rank). */
  private[graft] def curriculum(docs: DataFrame,
                                n: Int = CurriculumN): DataFrame = {
    val perSrc = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val global = Window.orderBy(col("src_rank").asc, col("source").asc)
    docs.select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("src_rank", row_number().over(perSrc).cast("long"))
      .withColumn("position", row_number().over(global).cast("long"))
      .filter(col("position") <= n)
      .select(col("position"), col("source"), col("src_rank"),
        col("doc_id"), col("n_chars"))
      .orderBy(col("position").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_kcenter" -> ((s, dir) => kcenter(Tables.embeddings(s, dir))),
    "q_curriculum" -> ((s, dir) => curriculum(Tables.documents(s, dir))))

  val oracle: Map[String, String] = Map(
    "q_kcenter" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |-- NOT MATERIALIZED: DuckDB 1.0 returns NULL from the
         |-- correlated pick subquery when the pair CTE is materialized
         |-- inside WITH RECURSIVE (caught live, same symptom as the
         |-- scalar-subquery seed)
         |cs AS (
         |  SELECT a.vec_id AS ca, b.vec_id AS cb,
         |    CAST(floor(list_dot_product(a.v, b.v)
         |      / (sqrt(list_dot_product(a.v, a.v))
         |        * sqrt(list_dot_product(b.v, b.v))) * 1000000.0 + 0.5)
         |      AS BIGINT) AS c6
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         |r AS (
         |  -- seed derives from a FROM-clause row, NOT a scalar
         |  -- subquery in the select list: DuckDB 1.0 evaluates a
         |  -- seed-side scalar subquery to NULL inside the recursive
         |  -- working table (caught live — iteration 1 picked nothing)
         |  SELECT 1 AS pick, sd.id AS vec_id,
         |    CAST(NULL AS BIGINT) AS mcos_q6, [sd.id] AS sel_ids
         |  FROM (SELECT min(vec_id) AS id FROM e) sd
         |  UNION ALL
         |  SELECT pick + 1,
         |    CAST($Pow32 - pk % $Pow32 AS BIGINT),
         |    CAST(1000000 - pk // $Pow32 AS BIGINT),
         |    list_append(sel_ids, CAST($Pow32 - pk % $Pow32 AS BIGINT))
         |  FROM (
         |    SELECT s.pick, s.sel_ids,
         |      (SELECT max((1000000 - x.mc) * $Pow32 + ($Pow32 - x.ca))
         |       FROM (SELECT c.ca, max(c.c6) AS mc
         |             FROM cs c
         |             WHERE list_contains(s.sel_ids, c.cb)
         |               AND NOT list_contains(s.sel_ids, c.ca)
         |             GROUP BY c.ca) x) AS pk
         |    FROM r s
         |    WHERE s.pick < $KCenters))
         |SELECT pick, vec_id, mcos_q6 FROM r ORDER BY pick""".stripMargin,

    "q_curriculum" ->
      s"""WITH ranked AS (
         |  SELECT source, doc_id, n_chars,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS src_rank
         |  FROM documents),
         |pos AS (
         |  SELECT *, CAST(row_number() OVER (
         |    ORDER BY src_rank, source) AS BIGINT) AS position
         |  FROM ranked)
         |SELECT position, source, src_rank, doc_id, n_chars
         |FROM pos WHERE position <= $CurriculumN
         |ORDER BY position""".stripMargin)
}

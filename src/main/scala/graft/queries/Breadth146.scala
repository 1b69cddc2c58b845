package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hundred-forty-seventh wave — the AMS "tug-of-war" sketch of the
  * second frequency moment F₂ = Σ_tok c_tok² over the corpus token
  * stream, against its exact value: the one-pass mergeable estimator
  * of repetition mass / self-join size that a 100 TB pipeline keeps
  * where the exact per-token count table would be another full
  * shuffle. Five independent ±1 hash estimators S_j = Σ s_j(tok)·c_tok
  * (each an order-free INTEGER sum over occurrences), estimates
  * S_j², and the median-of-5 as the final sketch value — all
  * deterministic via the house md5 sign convention (salted per
  * estimator), so the differential oracle replays the sketch exactly
  * rather than asserting an error band (E[S²] = F₂; the measured
  * ratio is emitted for the audit, not asserted).
  *
  * Int64 headroom: |S_j| ≤ N tokens and S_j² concentrates around F₂ —
  * wraps past F₂ ≈ 9e18 (≈ 3e9 occurrences of one token); past that
  * the estimator squares in Decimal(38,0) (documented knob). The
  * exact F₂ companion needs the per-token count table — the thing
  * the sketch exists to avoid — and is the gate-SF oracle only.
  *
  * Scale shape: the sketch is ONE map pass (5 sign columns per
  * occurrence) + ONE global aggregate with map-side partials — no
  * shuffle of token keys at all, and partial sketches merge by
  * addition (the mergeability the driver's distributed tree-agg
  * relies on). The exact F₂ does shuffle on token (hash aggregate);
  * at warehouse scale only the sketch path runs.
  */
object Breadth146 {

  private[graft] val AmsK = 5

  /** JVM twin of [[amsSign]] — the same md5 bit parity, for
    * driver-side reference checks. */
  def amsSignJvm(tok: String, j: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((tok + "#" + j).getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.substring(16, 31)
    if (BigInt(hex, 16) % 2 == 0) 1L else -1L
  }

  /** ±1 sign of `tok` under estimator salt j (md5 bit parity). */
  private[graft] def amsSign(tok: Column, j: Int): Column =
    when(conv(substring(md5(concat(tok, lit("#" + j))), 17, 15), 16, 10)
      .cast("long") % 2 === 0, 1L).otherwise(-1L)

  private def toks(docs: DataFrame): DataFrame =
    docs.select(explode(graft.text.Text.tokens(col("text"))).as("tok"))

  /** The 5 sketch rows: (sketch_id, s, est = s²). */
  private[graft] def amsSketches(docs: DataFrame): DataFrame = {
    val aggs = (0 until AmsK).map(j =>
      sum(amsSign(col("tok"), j)).as(s"__s$j"))
    val sums = toks(docs).agg(aggs.head, aggs.tail: _*)
    sums.select(explode(array((0 until AmsK).map(j =>
        struct(lit(j.toLong).as("sketch_id"), col(s"__s$j").as("s"),
          (col(s"__s$j") * col(s"__s$j")).as("est"))): _*)).as("__r"))
      .select(col("__r.sketch_id"), col("__r.s"), col("__r.est"))
      .orderBy(col("sketch_id").asc)
  }

  /** One audit row: N, exact F₂, median-of-5 estimate, ratio. */
  private[graft] def amsF2(docs: DataFrame): DataFrame = {
    val t = toks(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = t.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("n_tokens"),
        sum(col("__c") * col("__c")).as("f2_exact"))
    val aggs = (0 until AmsK).map(j =>
      sum(amsSign(col("tok"), j)).as(s"__s$j"))
    val est = t.agg(aggs.head, aggs.tail: _*)
      .select(element_at(array_sort(array((0 until AmsK).map(j =>
        col(s"__s$j") * col(s"__s$j")): _*)), (AmsK + 1) / 2)
        .as("est_median"))
    exact.crossJoin(broadcast(est))
      .select(col("n_tokens"), col("f2_exact"), col("est_median"),
        (col("est_median").cast("double") / col("f2_exact").cast("double"))
          .as("ratio"))
  }

  val defs: Map[String, Q] = Map(
    "q_ams_f2" -> ((s, dir) => amsF2(Tables.documents(s, dir))),
    "q_ams_sketches" -> ((s, dir) =>
      amsSketches(Tables.documents(s, dir))))

  private def sqlSign(j: Int): String =
    s"""CASE WHEN ('0x' || substr(md5(tok || '#$j'), 17, 15))::BIGINT
       | % 2 = 0 THEN 1 ELSE -1 END""".stripMargin.replace("\n", "")

  /** Token + 5-sum CTE chain (no leading WITH), shared. */
  private val AmsSql: String = {
    val sumExprs = (0 until AmsK).map(j =>
      s"CAST(sum(${sqlSign(j)}) AS BIGINT) AS s$j").mkString(",\n    ")
    s"""toks AS (
       |  SELECT unnest(${Extensions.sqlTokens("text")}) AS tok
       |  FROM documents),
       |sums AS (
       |  SELECT $sumExprs
       |  FROM toks)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_ams_f2" -> {
      val ests = (0 until AmsK).map(j => s"s$j * s$j").mkString(", ")
      s"""WITH $AmsSql,
         |ex AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(c * c) AS BIGINT) AS f2_exact
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM toks
         |        GROUP BY tok) tc),
         |md AS (
         |  SELECT CAST(list_sort([$ests])[${(AmsK + 1) / 2}] AS BIGINT)
         |    AS est_median
         |  FROM sums)
         |SELECT n_tokens, f2_exact, est_median,
         |  CAST(est_median AS DOUBLE) / CAST(f2_exact AS DOUBLE) AS ratio
         |FROM ex CROSS JOIN md""".stripMargin
    },

    "q_ams_sketches" -> {
      val rows = (0 until AmsK).map(j =>
        s"SELECT CAST($j AS BIGINT) AS sketch_id, s$j AS s," +
          s" s$j * s$j AS est FROM sums").mkString("\n|UNION ALL\n|")
      s"""WITH $AmsSql
         |$rows
         |ORDER BY sketch_id""".stripMargin
    })
}

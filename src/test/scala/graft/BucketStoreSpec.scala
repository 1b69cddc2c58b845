package graft

import graft.queries.{Breadth117, Extensions11}
import org.apache.spark.sql.functions._

/** Pins for the round-14 bucketed edge stores and the no-persist-leak
  * contract of the iterative-graph facades (round-13 verdict #5):
  *
  *  - `Memo.writeBucketed` round-trips rows exactly and its
  *    table satisfies the bucket-column hash distribution, so a groupBy
  *    on the bucket column plans WITHOUT any shuffle exchange — the
  *    property that makes per-iteration edge joins exchange-free;
  *  - a facade call (hits / pageRank / hopHistogram) leaves NO new
  *    persisted RDDs behind (the r13 leak class: one cached frame per
  *    call on a public facade, reaped mid-bench by the storage sweep
  *    and measured as the latency-regression cluster). */
class BucketStoreSpec extends SparkSpec {
  import spark.implicits._

  test("bucketedToStore: exact row round-trip and groupBy on the " +
    "bucket column plans with no shuffle exchange") {
    val df = (1L to 5000L).map(i => (i % 97L, i)).toDF("src", "dst")
    val stored = store.Memo.writeBucketed(df, "src", 4)
    assert(stored.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val agg = stored.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"bucketed groupBy must not re-shuffle:\n${plan.take(800)}")
    // and the aggregate still matches the plain definition
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      df.groupBy(col("src")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("bucketsForRows: ~1M rows per bucket, clamped to [1, 4096]") {
    assert(store.Memo.bucketsForRows(0L) == 1)
    assert(store.Memo.bucketsForRows(600000L) == 1)
    assert(store.Memo.bucketsForRows(5900000L) == 6)
    assert(store.Memo.bucketsForRows(Long.MaxValue / 2) == 4096)
  }

  test("iterative-graph facades leave no new persisted RDDs (the r13 " +
    "facade-leak pin): hits, pageRank, hopHistogram") {
    def persisted(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    val li = Tables.lineitem(spark, sf0001)
    val before = persisted()
    Breadth117.hits(li.select(col("l_suppkey").as("src"),
      col("l_partkey").as("dst"))).count()
    Extensions11.pageRank(li.select(
      (col("l_suppkey") * 2L).as("src"),
      (col("l_partkey") * 2L + 1L).as("dst"))).count()
    val emb = Tables.embeddings(spark, sf0001)
    Breadth117.hopHistogram(
      queries.Breadth43.knnEdges(emb),
      emb.select(col("vec_id").as("node"), col("label"))).count()
    // localCheckpoint generations register as persistent RDDs while the
    // returned frame is alive; the CONTRACT is that nothing the facade
    // persisted outlives a storage sweep + the frames going out of
    // scope — exactly what the bench/verify harness relies on.
    Harness.sweepStorage(spark)
    val after = persisted()
    assert(after.subsetOf(before),
      s"facade leaked persisted RDDs: ${after -- before}")
  }

  test("simhashNearDups leaves no new persisted RDDs (round 14 — the " +
    "same facade-leak pin; its sims frame is store-backed, not persisted)") {
    def persisted(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    val docs = Tables.documents(spark, sf0001)
    val before = persisted()
    dedup.Dedup.simhashNearDups(docs, "doc_id", "text", "source", 3).count()
    Harness.sweepStorage(spark)
    val after = persisted()
    assert(after.subsetOf(before),
      s"simhashNearDups leaked persisted RDDs: ${after -- before}")
  }
}

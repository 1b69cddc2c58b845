package graft

import org.apache.spark.sql.SparkSession

/** The storage sweep shared by the single-session harness mains (Bench,
  * Verify); their session comes from `Graft.session`. */
object Harness {

  /** Drop EVERY cached block in the session — CacheManager entries
    * (plan-level persists) AND RDD-level blocks clearCache cannot see
    * (localCheckpoint generations from the iterative graph queries).
    *
    * INVARIANT (every call site): this unpersists localCheckpoint'd
    * RDDs too, which permanently destroys them — their lineage is
    * truncated, so they cannot be recomputed and a later action on a
    * frame that still references one throws "checkpoint block not
    * found". Safe here ONLY because the harness is single-threaded and
    * every intermediate that outlives a harness line is parquet-backed
    * (graft.store.Memo / Stores.materialized), never cached: a
    * query/chain body may persist or checkpoint whatever it likes
    * INSIDE its line, but nothing cached may be referenced across a
    * sweep. Do not call this from concurrent code or a long-lived user
    * session. */
  def sweepStorage(spark: SparkSession): Unit = {
    try spark.catalog.clearCache()
    catch { case scala.util.control.NonFatal(_) => }
    // BLOCKING unpersist (round-14): with blocking = false the block
    // removals run async and land INSIDE the next timed line — measured
    // as the round-13 latency-regression cluster (q_kyle_lambda et al.,
    // walls up 2-13x with flat task-seconds, all alphabetically after
    // the checkpoint-heavy graph queries whose generations the sweep was
    // still reaping). The sweep sits between timed sections, so paying
    // the removal here is exactly where it belongs.
    spark.sparkContext.getPersistentRDDs.values.foreach(r =>
      try r.unpersist(blocking = true)
      catch { case scala.util.control.NonFatal(_) => })
  }
}

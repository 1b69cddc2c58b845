package graft

import graft.queries.{Breadth122, Chains}
import org.apache.spark.sql.functions._

/** Fixtures for the hundred-twenty-third wave (Breadth122 RP
  * distortion + leakage-safe split). */
class Wave128Spec extends SparkSpec {

  test("rp distortion on the sf0.001 corpus: exact on both branches, " +
    "distortion strictly positive and bounded by 2") {
    val got = Breadth122.rpDistortion(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(got.getLong(0) > 0)
    val mean = got.getDouble(1); val mx = got.getDouble(2)
    // |cosΔ| lives in [0, 2]; a sign projection cannot be lossless on
    // this corpus, and the mean can never exceed the max
    assert(mean > 0.0 && mean <= mx && mx <= 2.0)
  }

  test("leakageSplit: cluster-aware crossings are zero, naive " +
    "crossings are not, train shares stay near 80%") {
    val got = Breadth122.leakageSplit(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val (nDocs, trainNaive, trainAware, nPairs, crossNaive, crossAware) =
      (got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
        got.getLong(4), got.getLong(5))
    assert(crossAware === 0L)
    assert(nPairs > 0L && crossNaive > 0L)
    // md5 is close to uniform: 80% ± 10 points at 500 docs
    Seq(trainNaive, trainAware).foreach { t =>
      assert(math.abs(t.toDouble / nDocs - 0.8) < 0.1)
    }
  }

  test("leakageSplit invariant: both endpoints of every verified pair " +
    "share a representative") {
    val pairs = Chains.MinhashPairs(spark, sf0001)
    val cl = Chains.DupClusters(spark, sf0001)
    val bad = pairs
      .join(cl.select(col("doc_id").as("id_a"),
        col("cluster_id").as("ra")), Seq("id_a"))
      .join(cl.select(col("doc_id").as("id_b"),
        col("cluster_id").as("rb")), Seq("id_b"))
      .filter(col("ra") =!= col("rb")).count()
    assert(bad === 0L)
  }
}

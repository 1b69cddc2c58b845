package graft

import graft.dedup.Dedup
import graft.queries.Breadth49

/** Closed-form fixtures for the fiftieth wave (Breadth49
  * components). */
class Wave49Spec extends SparkSpec {
  import spark.implicits._

  test("componentStats: a 3-path and a triangle get their hand " +
    "densities under real label propagation") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (7L, 9L), (8L, 9L))
      .toDF("id_a", "id_b")
    val labels = Dedup.clusterMembers(edges, "vec_id",
      maxIters = Breadth49.CompIters)
    val got = Breadth49.componentStats(edges, labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq((1L, 3L, 2L, 2.0 / 3.0), (7L, 3L, 3L, 1.0)))
  }
}

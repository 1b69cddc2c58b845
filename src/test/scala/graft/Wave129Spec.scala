package graft

import graft.queries.Breadth123

/** Fixtures for the hundred-twenty-fourth wave (Breadth123 dup-5-gram
  * coverage + clamped balance). */
class Wave129Spec extends SparkSpec {
  import spark.implicits._

  test("dupNgramCoverage: shared spans count, unique spans do not, " +
    "short docs emit zero grams with a null coverage") {
    val docs = Seq(
      (1L, "a b c d e f"),        // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e zz"),       // shares "a b c d e" with doc 1
      (3L, "p q r s t"),          // unique single gram
      (4L, "x y"))                // too short for a 5-gram
      .toDF("doc_id", "text")
    val got = Breadth123.dupNgramCoverage(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1.0
         else r.getDouble(3))).toMap
    assert(got(1L) === ((2L, 1L, 0.5)))
    assert(got(2L) === ((2L, 1L, 0.5)))
    assert(got(3L) === ((1L, 0L, 0.0)))
    assert(got(4L) === ((0L, 0L, -1.0)))
  }

  test("clampStep: the balance floors at zero and re-accumulates") {
    var st = Breadth123.clampStep(None, 1000L)
    assert(st.bal === 0L)
    st = Breadth123.clampStep(Some(st), 1100L)   // +100
    assert(st.bal === 100L)
    st = Breadth123.clampStep(Some(st), 800L)    // −300 → clamp
    assert(st.bal === 0L)
    st = Breadth123.clampStep(Some(st), 850L)    // +50 from the floor
    assert(st.bal === 50L)
  }
}

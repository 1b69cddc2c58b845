package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes an sf1-scale corpus from the sf0.1 testdata (10× rows) so
  * the scale claims can be MEASURED past the largest driver-provided SF
  * — `runMain graft.ScaleGen [src] [out] [copies]`, then point Bench at
  * the output dir. Writes only under the repo (default target/sf1).
  *
  * Replication is NOT naive duplication — copies are keyed and content-
  * perturbed so data DENSITY stays realistic and no pair-generating
  * operator sees a pathological corpus:
  *
  *  - events: fresh event_id/user_id key space per copy → 10× keys with
  *    the same per-key series length (windows scale linearly, the
  *    honest warehouse shape);
  *  - documents: every token gets a per-copy prefix, so cross-copy
  *    shingle sets are DISJOINT — near-dup pair density (MinHash/
  *    SimHash/fuzzy blocking) scales linearly, not quadratically, which
  *    is what a real 10× corpus does;
  *  - embeddings: each copy's vectors are cyclically rolled by the copy
  *    index — norms and coordinate distribution preserved, cross-copy
  *    cosines decorrelated, so ANN/near-dup bucket sizes scale linearly
  *    (identical copies would put every vector in a 10-way cosine-1.0
  *    clique);
  *  - orders/lineitem/customer: order and customer key spaces offset
  *    per copy (10× facts);
  *  - part/supplier scale WITH the facts (offset key spaces per copy,
  *    FKs rewritten consistently) — TPC-H itself scales S and P with
  *    SF, and a fixed dim key space made every supply-graph operator's
  *    scale step vacuous (10× lineitem collapsed to the SAME distinct
  *    supplier→part edge set, caught in round 14); nation/region stay
  *    single, exactly like TPC-H.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val cp = spark.range(copies).select(col("id").as("__copy"))
    def replicated(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet").crossJoin(cp)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name -> $out/$name.parquet")
    }

    // events.ts reads as long ns under nanosAsLong and writes back as
    // BIGINT — Tables.events' `ts div 1000` works identically on both.
    write(replicated("events").select(
      (col("event_id") + col("__copy") * lit(1000000000L)).as("event_id"),
      col("ts"),
      (col("user_id") + col("__copy") * lit(1000000L)).as("user_id"),
      col("event_type"), col("value"), col("props")), "events")

    write(replicated("documents").select(
      (col("doc_id") + col("__copy") * lit(100000000L)).as("doc_id"),
      when(col("__copy") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("c"), col("__copy").cast("string"), lit("x$1"))))
        .as("text"),
      col("lang"), col("source"),
      when(col("__copy") === 0, col("n_chars"))
        .otherwise(length(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("c"), col("__copy").cast("string"), lit("x$1")))).cast("long"))
        .as("n_chars")), "documents")

    // Per-copy deterministic SIGN MASK (copy 0 = the originals,
    // untouched): coordinate i of copy c flips sign iff
    // xxhash64(c, i) is odd. Within one copy every pairwise cosine is
    // EXACTLY the original block's (cos(m·u, m·v) = cos(u, v) for a
    // shared ±1 mask), so each copy is an honest geometric replica;
    // across copies the independent masks drive expected cosine to ~0,
    // so near-dup PAIR COUNTS scale linearly with copies — what a real
    // 10× corpus does. (The earlier cyclic roll only decorrelated to
    // ~±0.3: at the semantic-dedup threshold 0.35 cross-copy pairs
    // still qualified and true-pair counts grew ~quadratically —
    // measured 107× pairs at 10× rows — which benchmarked the OUTPUT
    // size, not the operator.)
    val masked = transform(col("embedding"), (x, i) =>
      when(col("__copy") === 0, x)
        .otherwise(when(
          pmod(xxhash64(col("__copy"), i), lit(2L)) === 0L, x)
          .otherwise(-x)))
    // Fresh LABEL space per copy — the same rule events/orders use for
    // their keys: a 10× corpus is 10× blocks at the SAME density, so
    // blocked ops (q_semantic_dedup's per-label near-dup) scale with
    // Σ per-block², i.e. linearly. Keeping labels shared would grow
    // block density 10× and the TRUE pair count ~100× (measured 107×
    // on the rolled corpus) — a benchmark of the output size, not the
    // operator; unbounded block density is quadratic for ANY exact
    // near-dup algorithm, and the blocking column exists precisely to
    // bound it. The masks still matter for the UN-blocked consumers
    // (brute-force/ANN top-k run corpus-wide): without them every
    // vector's copies would be exact cosine-1.0 neighbors.
    write(replicated("embeddings").select(
      (col("vec_id") + col("__copy") * lit(100000000L)).as("vec_id"),
      masked.as("embedding"),
      (col("label") + (col("__copy") * lit(1000L)).cast("int")).as("label")),
      "embeddings")

    val or_ = spark.read.parquet(s"$src/orders.parquet")
    write(or_.crossJoin(cp).select(or_.columns.map {
      case "o_orderkey" =>
        (col("o_orderkey") + col("__copy") * lit(1000000000L)).as("o_orderkey")
      case "o_custkey" =>
        (col("o_custkey") + col("__copy") * lit(100000000L)).as("o_custkey")
      case c => col(c)
    }.toSeq: _*), "orders")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    write(li.crossJoin(cp).select(li.columns.map {
      case "l_orderkey" =>
        (col("l_orderkey") + col("__copy") * lit(1000000000L)).as("l_orderkey")
      case "l_suppkey" =>
        (col("l_suppkey") + col("__copy") * lit(10000000L)).as("l_suppkey")
      case "l_partkey" =>
        (col("l_partkey") + col("__copy") * lit(100000000L)).as("l_partkey")
      case c => col(c)
    }.toSeq: _*), "lineitem")

    val cu = spark.read.parquet(s"$src/customer.parquet")
    write(cu.crossJoin(cp).select(
      (col("c_custkey") + col("__copy") * lit(100000000L)).as("c_custkey") +:
        cu.columns.filter(_ != "c_custkey").map(col).toSeq: _*), "customer")

    val pt = spark.read.parquet(s"$src/part.parquet")
    write(pt.crossJoin(cp).select(pt.columns.map {
      case "p_partkey" =>
        (col("p_partkey") + col("__copy") * lit(100000000L)).as("p_partkey")
      case c => col(c)
    }.toSeq: _*), "part")

    val sp = spark.read.parquet(s"$src/supplier.parquet")
    write(sp.crossJoin(cp).select(sp.columns.map {
      case "s_suppkey" =>
        (col("s_suppkey") + col("__copy") * lit(10000000L)).as("s_suppkey")
      case c => col(c)
    }.toSeq: _*), "supplier")

    Seq("nation", "region").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }
    spark.stop()
  }
}

package graft

import graft.dedup.Dedup
import graft.text.Text
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("the parquet-backed chain store is immune to a full storage sweep: " +
    "after clearCache + unpersisting every RDD, a chain consumer still " +
    "plans a store scan — no signature/band/verify rebuild (round-11: " +
    "persist-backed chains were evicted mid-bench and re-attributed the " +
    "whole pipeline to arbitrary consumer queries)") {
    val sf0001 = "/root/testdata/sf0.001"
    val n1 = SparkEntry.queries("q_dedup_minhash")(spark, sf0001).count()
    // the bench/verify harness's between-lines sweep
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(r =>
      try r.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => })
    val df = SparkEntry.queries("q_dedup_minhash")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), // explode = the shingle pipeline
      s"consumer re-plans the shingle pipeline after a sweep:\n${p.take(800)}")
    assert(p.toLowerCase.contains("parquet"),
      s"consumer should scan the materialized store:\n${p.take(800)}")
    assert(df.count() == n1) // and it still executes after the sweep
  }

  test("norm collapses whitespace and case; fingerprint is stable on it") {
    val d = docs((1L, "  Hello   World "), (2L, "hello world"), (3L, "hello  worlds"))
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(d(1L) == d(2L))
    assert(d(1L) != d(3L))
  }

  test("shingles: short doc yields one whole-doc shingle") {
    val sh = docs((1L, "one two"))
      .select(Text.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(sh == Seq("one two"))
  }

  test("shingles: n-token window with duplicates preserved") {
    val sh = docs((1L, "a b c d"))
      .select(Text.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
  }

  test("exactDups groups identical normalized content") {
    val out = Dedup.exactDups(
      docs((1L, "same text"), (2L, "Same   TEXT"), (3L, "different")),
      "doc_id", "text")
    val byId = out.select("doc_id", "canonical_id", "is_dup")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(1L) == (1L, 0))
    assert(byId(2L) == (1L, 1))
    assert(byId(3L) == (3L, 0))
  }

  test("minhash LSH finds a constructed near-dup and skips unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"zzz$i").mkString(" ")
    val out = Dedup.minhashNearDups(
      docs((1L, base), (2L, nearDup), (3L, unrelated)), "doc_id", "text",
      shingleLen = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  /** Runs `body` on the path of a parquet corpus of `n` 40-token
    * documents where every fifth document repeats its predecessor with
    * one token changed (a near-duplicate at Jaccard ≈ 0.95). */
  private def withCorpus[A](n: Int)(body: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft_corpus")
    val dir = root.resolve("documents").toString
    try {
      val rnd = new scala.util.Random(17)
      val texts = (0 until n).foldLeft(Vector.empty[String]) { (acc, i) =>
        acc :+ (if (i % 5 == 4) acc.last.replaceFirst("w\\d+$", "CHANGED")
                else Seq.fill(40)(s"w${rnd.nextInt(500)}").mkString(" "))
      }
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .write.parquet(dir)
      body(dir)
    } finally graft.Fs.deleteRecursively(root.toFile)
  }

  test("Graft.nearDupPairs caches nothing and scans the documents once " +
    "for signatures and once for verification") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    object plans extends AdaptiveSparkPlanHelper
    withCorpus(60) { dir =>
      val pairs = Graft.nearDupPairs(spark.read.parquet(dir))
      assert(pairs.collect().nonEmpty)
      // the final adaptive plan of the query that ran; a reused exchange
      // is a leaf, so each scan counted here ran
      val p = pairs.queryExecution.executedPlan
      assert(plans.collect(p) { case s: InMemoryTableScanExec => s }.isEmpty,
        s"nearDupPairs reads a cached relation:\n$p")
      assert(plans.collect(p) { case s: FileSourceScanExec => s }.size == 2,
        s"documents scanned other than once per side of the pipeline:\n$p")
    }
  }

  test("a curation pass (nearDupPairs persisted, then dedupKeepList, then " +
    "clearCache) runs the same number of tasks every time") {
    val m = TestSession.metrics
    withCorpus(200) { dir =>
      // Spark's default width, the benchmark's
      val tasks = withConf("spark.sql.shuffle.partitions", "32") {
        (1 to 5).map { _ =>
          val docs = spark.read.parquet(dir)
          val s0 = m.snapshot()
          val pairs = Graft.nearDupPairs(docs).persist()
          pairs.write.format("noop").mode("overwrite").save()
          Graft.dedupKeepList(docs, pairs).filter(col("keep"))
            .write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          m.since(s0).tasks
        }
      }
      assert(tasks.distinct.size == 1, s"tasks per pass: $tasks")
    }
  }

  test("simhashNearDups at the degenerate maxHamming >= 64 bound returns " +
    "ALL in-block pairs, including exact complements") {
    // two unrelated docs whose simhashes differ widely (plus any pair at
    // hamming 64 — a complement — which one-bit banding could never pair)
    val out = Dedup.simhashNearDups(
      docs((1L, (1 to 60).map(i => s"w$i").mkString(" ")),
        (2L, (100 to 160).map(i => s"q$i").mkString(" ")),
        (3L, (200 to 260).map(i => s"r$i").mkString(" ")))
        .withColumn("src", lit("s")),
      "doc_id", "text", "src", maxHamming = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("null-text docs get NULL simhash and never pair (parity with the " +
    "grouped form, which drops them at the explode)") {
    import org.apache.spark.sql.functions.lit
    val fixture = Seq((1L, "one two three"), (2L, null), (3L, null))
      .toDF("doc_id", "text").withColumn("src", lit("s"))
    val sims = Dedup.withRowwiseSimhash64(fixture, "text")
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(sims(2L).isEmpty && sims(3L).isEmpty && sims(1L).nonEmpty)
    // two null-text docs in one block must NOT emit a hamming-0 pair
    val pairs = Dedup.simhashNearDups(fixture, "doc_id", "text", "src", 6)
    assert(pairs.count() == 0)
  }

  test("row-wise simhash equals the exploded+grouped form") {
    val base = (1 to 50).map(i => s"tok$i repeat$i").mkString(" ")
    val fixture = docs((1L, base),
      (2L, (1 to 30).map(i => s"x$i").mkString(" ")),
      (3L, "one two three two one"))
    val grouped = Dedup.simhash64(fixture, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val rowwise = Dedup.withRowwiseSimhash64(fixture, "text")
      .select("doc_id", "simhash")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(grouped == rowwise)
  }

  test("row-wise minhash signatures equal the exploded+grouped form") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val fixture = docs((1L, base),
      (2L, (1 to 40).map(i => if (i == 7) "X" else s"tok$i").mkString(" ")),
      (3L, (100 to 130).map(i => s"zzz$i").mkString(" ")))
    val grouped = Dedup.minhashSignatures(fixture, "doc_id", "text", 3, 12)
      .orderBy("doc_id").collect().map(_.toSeq)
    val rowwise = Dedup.withRowwiseMinhashSignatures(fixture, "text", 3, 12)
      .select("doc_id", (0 until 12).map(i => s"h$i"): _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(grouped.toSeq == rowwise.toSeq)
  }

  test("clusterIds: min-label propagation finds transitive dup clusters") {
    val ids = (1L to 8L).toDF("doc_id")
    // clusters: {1,2,3} via chain 1-2, 2-3; {5,7}; singletons 4,6,8
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.clusterIds(ids, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 5L, 8L -> 8L))
  }

  test("simhash: identical docs get hamming 0; near-dups small distance") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val out = Dedup.simhashNearDups(
      docs((1L, base), (2L, base)).withColumn("src", lit("s")),
      "doc_id", "text", "src", maxHamming = 0)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(out.toSeq == Seq((1L, 2L, 0)))
  }

  test("simhash band blocking: identical output to all-pairs on a skewed " +
    "single-source block, with candidates bounded by band buckets") {
    // one giant block — the 100 TB skew case the banding exists for
    val n = 60
    val fixture = docs((1L to n.toLong).map { i =>
      if (i % 10 == 0) // every 10th doc is a near-dup of its predecessor
        i -> (1 to 50).map(j => if (j == 25) s"CHG$i" else s"tok${i - 1}_$j").mkString(" ")
      else i -> (1 to 50).map(j => s"tok${i}_$j").mkString(" ")
    }.map { case (i, t) => (i, t) }: _*).withColumn("src", lit("one_source"))
    val maxHamming = 6
    val sims = Dedup.simhash64(fixture, "doc_id", "text")
      .join(fixture.select(col("doc_id"), col("src")), "doc_id")
      .persist()
    // ground truth: the quadratic all-pairs form, inline
    val a = sims.select(col("src"), col("doc_id").as("id_a"), col("simhash").as("sim_a"))
    val b = sims.select(col("src"), col("doc_id").as("id_b"), col("simhash").as("sim_b"))
    val allPairs = a.join(b, Seq("src")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val banded = Dedup.simhashNearDups(fixture, "doc_id", "text", "src", maxHamming)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == allPairs, s"banded=$banded allPairs=$allPairs")
    // candidate boundedness: the band self-join must touch far fewer
    // pairs than the n*(n-1)/2 the all-pairs block join materializes
    // expected collision fraction for random 64-bit hashes over 7 bands
    // (1×10-bit + 6×9-bit) is 1/1024 + 6/512 ≈ 0.013 — assert well inside
    // the all-pairs count, which is what 64-bit banding buys
    val candidates = Dedup.simhashBandCandidates(sims, "doc_id", "src", maxHamming).count()
    val quadratic = n.toLong * (n - 1) / 2
    assert(candidates < quadratic / 2,
      s"band candidates $candidates not ∝ buckets (all-pairs would be $quadratic)")
    sims.unpersist()
  }

  test("simhash banding is pigeonhole-complete at the hamming bound") {
    // two synthetic hashes exactly maxHamming apart must still collide in
    // >= 1 of the maxHamming+1 bands and be verified as a pair
    val maxHamming = 6
    // flip 6 bits spread across different bands (bits 0,5,10,15,20,25)
    val h1 = 0L
    val h2 = (0 until 30 by 5).foldLeft(0L)((acc, bit) => acc | (1L << bit))
    val sims = Seq((1L, h1), (2L, h2)).toDF("doc_id", "simhash")
      .withColumn("src", lit("s"))
    val out = Dedup.simhashBandCandidates(sims, "doc_id", "src", maxHamming)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("simhash d=3 (the Manku production point): 4 bands of 16 bits, " +
    "pigeonhole-complete at hamming 3, collisions ~4/2^16 of all-pairs") {
    // band decomposition: 64/4 = 16-bit bands exactly
    val bands = Dedup.simhashBandStructs(lit(-1L), 4)
    val vals = spark.range(1).select(bands.as("b"))
      .selectExpr("transform(b, x -> x.band_val)").as[Seq[Long]].head()
    assert(vals == Seq.fill(4)(0xFFFFL),
      s"d=3 bands must be four 16-bit masks, got $vals")
    // pigeonhole at the bound: 3 flipped bits in 3 DIFFERENT bands still
    // leave one agreeing band
    val h2 = (1L << 0) | (1L << 16) | (1L << 32)
    val sims = Seq((1L, 0L), (2L, h2)).toDF("doc_id", "simhash")
      .withColumn("src", lit("s"))
    val out = Dedup.simhashBandCandidates(sims, "doc_id", "src", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
    // equality to all-pairs at d=3 on a corpus block (the q_simhash_d3
    // operating point), and the wide-band candidate fraction
    val n = 60
    val fixture = docs((1L to n.toLong).map { i =>
      if (i % 10 == 0)
        i -> (1 to 50).map(j => if (j == 25) s"CHG$i" else s"tok${i - 1}_$j").mkString(" ")
      else i -> (1 to 50).map(j => s"tok${i}_$j").mkString(" ")
    }: _*).withColumn("src", lit("one_source"))
    val s2 = Dedup.simhash64(fixture, "doc_id", "text")
      .join(fixture.select(col("doc_id"), col("src")), "doc_id").persist()
    val a = s2.select(col("src"), col("doc_id").as("id_a"), col("simhash").as("sim_a"))
    val b = s2.select(col("src"), col("doc_id").as("id_b"), col("simhash").as("sim_b"))
    val allPairs = a.join(b, Seq("src")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val banded = Dedup.simhashNearDups(fixture, "doc_id", "text", "src", 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == allPairs, s"banded=$banded allPairs=$allPairs")
    // 16-bit bands: expected random-pair collision fraction 4/65536 —
    // candidates must be a sliver of the quadratic block (true pairs +
    // ~0 random collisions), far tighter than d=8's 7-bit bands
    val candidates = Dedup.simhashBandCandidates(s2, "doc_id", "src", 3).count()
    assert(candidates <= allPairs.size + 5,
      s"d=3 candidates $candidates should be ≈ true pairs (${allPairs.size})")
    s2.unpersist()
  }

  test("ngramContainment flags a copied eval doc as fully contaminated " +
    "and a novel one as clean") {
    val train = (1 to 40).map(i => s"tr$i").mkString(" ")
    val fixture = docs(
      (1L, train),                                    // eval: verbatim copy of train doc
      (2L, (1 to 40).map(i => s"novel$i").mkString(" ")), // eval: no overlap
      (3L, train),                                    // train
      (4L, (100 to 140).map(i => s"other$i").mkString(" ")))
    val out = Dedup.ngramContainment(fixture, "doc_id", "text", 3,
        col("doc_id") <= 2)
      .select("doc_id", "containment").as[(Long, Double)].collect().toMap
    assert(out(1L) == 1.0, s"copied doc must be 100% contained: $out")
    assert(out(2L) == 0.0, s"novel doc must be 0% contained: $out")
  }

  test("boilerplateRatio marks corpus-repeated shingles, leaves unique " +
    "content at ratio 0") {
    val boiler = "shared header line for every doc"
    val fixture = docs((1L to 5L).map { i =>
      if (i <= 4) i -> s"$boiler unique$i tail$i words$i"
      else i -> s"totally distinct content ${i}a ${i}b ${i}c ${i}d"
    }: _*)
    val out = Dedup.boilerplateRatio(fixture, "doc_id", "text", 3, minDocs = 4)
      .select("doc_id", "n_boilerplate", "boilerplate_ratio")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // docs 1-4 share the 4 header trigrams ("shared header line",
    // "header line for", "line for every", "for every doc"); doc 5 is clean
    assert(out(1L)._2 == 4, s"$out")
    assert(out(5L)._2 == 0 && out(5L)._3 == 0.0, s"$out")
    assert(out(1L)._3 > 0.3 && out(1L)._3 < 0.7, s"$out")
  }

  test("langId picks the marker-dominant language, 'und' when none") {
    val out = docs(
      (1L, "the cat and the dog is here"),
      (2L, "der hund und die katze ist das"),
      (3L, "xyzzy qwerty"))
      .select(col("doc_id"), Text.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }

  test("quality score penalizes repetition and punctuation") {
    val clean = (1 to 100).map(i => s"word$i").mkString(" ")
    val repetitive = Seq.fill(100)("word").mkString(" ")
    val out = docs((1L, clean), (2L, repetitive))
      .select(col("doc_id"), Text.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) > 0.9)
    assert(out(2L) < 0.1)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 single-partition-window INVENTORY (verdict #8): every
  * `Window.orderBy(...)` / `Window.partitionBy()` call site in the main
  * source moves ALL rows of its input to one partition (the WindowExec
  * warning). That is only acceptable on bounded inputs, and this spec
  * pins the complete whitelist: a NEW unpartitioned window anywhere
  * fails the test until it is consciously added here with a category.
  *
  * Categories (the per-site rationale lives in each module's scaladoc;
  * the tag records which argument applies):
  *  - "agg"  — the window input is an aggregate/count/bucket/decile/
  *             cell table bounded by a dimension (days, buckets, value
  *             domain, states, tests), never raw facts. The q_ks_drift /
  *             q_index_nav precedent: metadata-sized by construction.
  *  - "rank" — a corpus/entity-sized global rank or quantile the query
  *             DEFINES its result by (doc/customer/part/vocab ranks).
  *             Module docs carry the documented 100 TB swap: the
  *             distributed GlobalRank (ops/GlobalRank) or an
  *             approx-quantile map (the wave-152 stance). Kept exact
  *             here because the oracle pins exact ranks at gate SFs.
  *  - "meta" — scheduler-metadata-sized frames: GlobalRank's
  *             per-partition offset table, IVF's K seed rows, capped
  *             top-K vocabularies (PmiVocab = 100).
  *
  * The match strips ALL whitespace first, so multi-line builder chains
  * (`...expressions.Window\n  .orderBy(`) are counted too.
  */
class WindowInventorySpec extends AnyFunSuite {

  // (file -> (expected unpartitioned-window call sites, category tag))
  private val whitelist: Map[String, (Int, String)] = Map(
    "ops/GlobalRank.scala" -> (1, "meta"),
    "ops/Skyline.scala" -> (1, "agg"),
    "sim/Ivf.scala" -> (1, "meta"),
    "queries/Breadth9.scala" -> (1, "agg"),
    "queries/Breadth11.scala" -> (3, "agg"),
    "queries/Breadth32.scala" -> (1, "rank"),
    "queries/Breadth38.scala" -> (2, "rank"),
    "queries/Breadth39.scala" -> (1, "agg"),
    "queries/Breadth55.scala" -> (1, "agg"),
    "queries/Breadth60.scala" -> (4, "rank"),
    "queries/Breadth61.scala" -> (4, "rank"),
    "queries/Breadth62.scala" -> (3, "agg"),
    "queries/Breadth63.scala" -> (3, "rank"),
    "queries/Breadth65.scala" -> (2, "agg"),
    "queries/Breadth66.scala" -> (2, "agg"),
    "queries/Breadth71.scala" -> (1, "agg"),
    "queries/Breadth82.scala" -> (9, "agg"),
    "queries/Breadth84.scala" -> (1, "agg"),
    "queries/Breadth89.scala" -> (1, "agg"),
    "queries/Breadth90.scala" -> (2, "rank"),
    "queries/Breadth93.scala" -> (2, "agg"),
    "queries/Breadth98.scala" -> (4, "agg"),
    "queries/Breadth100.scala" -> (2, "agg"),
    "queries/Breadth108.scala" -> (2, "agg"),
    "queries/Breadth109.scala" -> (6, "agg"),
    "queries/Breadth115.scala" -> (1, "agg"),
    "queries/Breadth119.scala" -> (2, "agg"),
    "queries/Breadth132.scala" -> (2, "agg"),
    "queries/Breadth135.scala" -> (1, "rank"),
    // q_pca_outliers: rank over a .limit(OutlierTopN)=10-row frame
    "queries/Breadth137.scala" -> (1, "meta"),
    // conformal q̂: calibration-set rank; module doc carries the
    // documented 100 TB swap (2-pass select-k)
    "queries/Breadth145.scala" -> (2, "rank"),
    // qiClasses len deciles: corpus rank, documented approx_percentile
    // / count-histogram swap in the module scaladoc
    "queries/Breadth151.scala" -> (1, "rank"),
    "queries/Breadth136.scala" -> (1, "agg"),
    "queries/Breadth139.scala" -> (1, "rank"),
    "queries/Breadth143.scala" -> (1, "rank"),
    "queries/Breadth149.scala" -> (1, "agg"),
    "queries/Breadth152.scala" -> (1, "rank"),
    "queries/Breadth155.scala" -> (1, "rank"),
    "queries/Breadth158.scala" -> (1, "agg"),
    "queries/Breadth159.scala" -> (2, "rank"),
    "queries/Breadth161.scala" -> (1, "rank"),
    "queries/Breadth162.scala" -> (2, "rank"),
    "queries/Breadth168.scala" -> (1, "agg"),
    "queries/Breadth171.scala" -> (2, "agg"),
    "queries/Breadth173.scala" -> (1, "rank"),
    "queries/Breadth175.scala" -> (1, "agg"),
    "queries/Breadth177.scala" -> (1, "rank"),
    // q_vocab_coverage: window over the vocab-sized token-count
    // aggregate (corpus-sized explode happens BEFORE the groupBy)
    "queries/Extensions7.scala" -> (1, "rank"),
    "queries/Extensions8.scala" -> (1, "meta"),
    "queries/Extensions12.scala" -> (1, "meta"))

  /** `src` with line and block comments dropped and string literals
    * (plain and triple-quoted) replaced by a placeholder, so a window
    * mentioned in a comment or an SQL string is not counted as a call
    * site. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(t: String) = src.startsWith(t, i)
    def skipTo(end: String): Unit = {
      val j = src.indexOf(end, i)
      i = if (j < 0) src.length else j + end.length
    }
    while (i < src.length) {
      if (at("//")) skipTo("\n")
      else if (at("/*")) { i += 2; skipTo("*/") }
      else if (at("\"\"\"")) { i += 3; skipTo("\"\"\""); out += 'S' }
      else if (at("\"")) {
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n')
          i += (if (src(i) == '\\') 2 else 1)
        i += 1
        out += 'S' // a literal argument stays an argument
      }
      // char literals that would otherwise open a string
      else if (at("'\"'")) i += 3
      else if (at("'\\\"'")) i += 4
      else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("every unpartitioned window in main source is whitelisted with " +
    "its bounded-input category, and no whitelist entry is stale") {
    assert(codeOnly("a // Window.orderBy(\n\"Window.orderBy(\" /* Window." +
      "orderBy( */ Window.partitionBy(\"k\")").replaceAll("\\s", "") ==
      "aSWindow.partitionBy(S)")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    def countSites(p: java.nio.file.Path): Int = {
      val s = codeOnly(java.nio.file.Files.readString(p))
        .replaceAll("\\s", "") // multi-line chains count too
      def occurrences(needle: String): Int = {
        var i = 0; var n = 0
        while ({ i = s.indexOf(needle, i); i >= 0 }) { n += 1; i += needle.length }
        n
      }
      occurrences("Window.orderBy(") + occurrences("Window.partitionBy()")
    }
    val found = files.map(p => root.relativize(p).toString.replace('\\', '/')
        -> countSites(p))
      .filter(_._2 > 0).toMap
    val unexpected = found.filter { case (f, n) =>
      whitelist.get(f).forall(_._1 != n) }
    val stale = whitelist.keys.filterNot(found.contains)
    assert(unexpected.isEmpty,
      s"unpartitioned windows outside the whitelist (file -> count): " +
        s"$unexpected — a Window.orderBy with no partitionBy moves every " +
        "row to ONE partition; justify the bounded input and add it " +
        "here, or partition it (ops/GlobalRank for global ranks)")
    assert(stale.isEmpty, s"stale whitelist entries (file no longer has " +
      s"unpartitioned windows): $stale")
  }
}

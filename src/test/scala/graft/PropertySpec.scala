package graft

import graft.ops.{History, Latest, TopK}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Property tests over small random frames (SURVEY.md §5.2.3). Plain
  * ScalaCheck generators driven from FunSuite (the scalatest+scalacheck
  * bridge artifact isn't on the offline classpath). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, rng.Seed(42L + i)))

  private val rowsGen = Gen.nonEmptyListOf(for {
    id <- Gen.choose(1L, 1000L)
    user <- Gen.choose(1L, 5L)
    sec <- Gen.choose(0L, 50L)
    v <- Gen.choose(-100.0, 100.0)
  } yield (id, user, sec, v))

  test("window form emits exactly one row per key; join form ⊇ keys and " +
    "only max-ts rows") {
    samples(rowsGen, 8).foreach { rows =>
      val df = rows.toDF("event_id", "user_id", "sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec")).cast("timestamp_ntz"))
      val keys = df.select("user_id").distinct().count()
      val win = Latest.latestPerKeyWindow(df, Seq("user_id"),
        col("ts").desc, col("event_id").desc)
      assert(win.count() == keys)
      val join = Latest.latestPerKeyJoin(df, "user_id", "ts")
      assert(join.count() >= keys)
      val maxTs = df.groupBy("user_id").agg(max("sec").as("m"))
      assert(join.join(maxTs, "user_id").filter(col("sec") =!= col("m")).count() == 0)
    }
  }

  test("topKPlusOther preserves the grand total and emits ≤ k+1 rows") {
    samples(Gen.nonEmptyListOf(Gen.choose(0.0, 1000.0)), 8).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toString, v) }
        .toDF("bucket", "rev")
      val out = TopK.topKPlusOther(df, "bucket", "rev", 7)
      assert(out.count() <= 8)
      val got = out.agg(sum("rev")).as[Double].head()
      assert(math.abs(got - vs.sum) < 1e-6 * math.max(1.0, vs.sum.abs))
    }
  }

  test("simhash band candidates are COMPLETE for any pair within the " +
    "hamming bound (pigeonhole, random hashes and flip sets)") {
    import graft.dedup.Dedup
    val gen = for {
      base <- Gen.choose(Long.MinValue, Long.MaxValue)
      d <- Gen.choose(0, 6)
      bits <- Gen.pick(d, 0 until 64)
    } yield (base, bits.foldLeft(base)((h, b) => h ^ (1L << b)))
    val pairs = samples(gen, 60)
    // one block per pair so each pair is judged in isolation, one job total
    val rows = pairs.zipWithIndex.flatMap { case ((h1, h2), i) =>
      Seq((i * 2L, h1, s"b$i"), (i * 2L + 1L, h2, s"b$i"))
    }
    val sims = rows.toDF("doc_id", "simhash", "blk")
    val found = Dedup.simhashBandCandidates(sims, "doc_id", "blk", 6).count()
    assert(found == pairs.size,
      s"banding lost ${pairs.size - found} of ${pairs.size} in-bound pairs")
  }

  test("ngramContainment (inverted index) equals the direct per-doc " +
    "set computation on random small-vocab corpora") {
    import graft.dedup.Dedup
    import graft.text.Text
    val docGen = Gen.listOfN(30, Gen.choose(0, 8).map(i => s"w$i"))
    samples(Gen.listOfN(12, docGen), 4).foreach { docsRaw =>
      val df = docsRaw.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val out = Dedup.ngramContainment(df, "doc_id", "text", 3, col("doc_id") < 4)
        .select("doc_id", "containment").as[(Long, Double)].collect().toMap
      val sets = df.select(col("doc_id"), Text.shingleSet(col("text"), 3).as("sh"))
      val train = sets.filter(col("doc_id") >= 4)
        .select(explode(col("sh")).as("s")).distinct().as[String].collect().toSet
      sets.filter(col("doc_id") < 4).as[(Long, Seq[String])].collect()
        .foreach { case (id, sh) =>
          val exp = sh.count(train.contains).toDouble / sh.size
          assert(out(id) == exp, s"doc $id: ${out(id)} vs $exp")
        }
    }
  }

  test("clusterMembers labels equal driver union-find components on " +
    "random pair graphs") {
    val pairsGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 30L)
      b <- Gen.choose(1L, 30L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    samples(pairsGen, 8).foreach { pairList =>
      val pairs = pairList.distinct
      // reference: driver-side union-find with path compression
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(id => id -> find(id)).toMap
      // min-label propagation must assign each node the MINIMUM id of its
      // component; union-find roots are minima by the ordered-union above
      val got = graft.dedup.Dedup
        .clusterMembers(pairs.toDF("id_a", "id_b"), "doc_id", maxIters = 40)
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"pairs=$pairs got=$got expected=$expected")
    }
  }

  test("triangleStats equals brute-force triangle enumeration on random " +
    "graphs, and per-node counts sum to 3× the triangle total") {
    val pairsGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 15L)
      b <- Gen.choose(1L, 15L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    samples(pairsGen, 6).foreach { pairList =>
      val pairs = pairList.distinct
      val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val nodes = adj.keys.toSeq.sorted
      val expTri = nodes.map { v =>
        val nb = adj(v).toSeq
        v -> (for {
          i <- nb.indices; j <- (i + 1) until nb.size
          if adj(nb(i)).contains(nb(j))
        } yield 1).size.toLong
      }.toMap
      val got = graft.queries.Breadth43
        .triangleStats(pairs.toDF("id_a", "id_b"))
        .select("vec_id", "degree", "n_tri")
        .as[(Long, Long, Long)].collect()
      assert(got.map(r => r._1 -> r._3).toMap == expTri,
        s"pairs=$pairs")
      assert(got.map(_._2).sum == 2L * pairs.size, "handshake lemma")
      assert(got.map(_._3).sum % 3 == 0, "each triangle counted thrice")
    }
  }

  test("linkPredict on random graphs: every emitted pair is non-adjacent " +
    "with the brute-force shared-neighbour count and Jaccard") {
    val pairsGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 12L)
      b <- Gen.choose(1L, 12L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    samples(pairsGen, 6).foreach { pairList =>
      val pairs = pairList.distinct
      val edgeSet = pairs.toSet
      val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val got = graft.queries.Breadth43
        .linkPredict(pairs.toDF("id_a", "id_b"))
        .select("id_a", "id_b", "n_shared", "jaccard_nb")
        .as[(Long, Long, Long, Double)].collect()
      got.foreach { case (a, b, cn, j) =>
        assert(!edgeSet.contains((a, b)), s"($a,$b) is an edge; pairs=$pairs")
        val shared = adj(a).intersect(adj(b)).size.toLong
        assert(cn == shared, s"($a,$b) cn=$cn shared=$shared pairs=$pairs")
        val union = adj(a).size + adj(b).size - shared
        assert(j == shared.toDouble / union.toDouble, s"($a,$b) jaccard")
      }
      // completeness at the top: every non-adjacent pair with >= 2 shared
      // neighbours appears unless the top-50 cut dropped it (never here)
      val expPairs = (for {
        a <- adj.keys; b <- adj.keys if a < b
        if !edgeSet.contains((a, b))
        if adj(a).intersect(adj(b)).size >= 2
      } yield (a, b)).toSet
      assert(got.map(r => (r._1, r._2)).toSet == expPairs, s"pairs=$pairs")
    }
  }

  test("count-min estimates never undercount random key multisets and " +
    "are exact for keys with no colliding cell") {
    val keysGen = Gen.nonEmptyListOf(Gen.choose(0L, 400L))
    samples(keysGen, 6).foreach { keys =>
      val df = keys.toDF("user_id")
      val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = graft.queries.Breadth44.countMin(df, "user_id")
        .select("user_id", "true_cnt", "cms_est")
        .as[(Long, Long, Long)].collect()
      got.foreach { case (k, t, est) =>
        assert(t == truth(k), s"true count for $k")
        assert(est >= t, s"undercount for $k: est=$est true=$t")
      }
    }
  }

  test("row-wise minhash signatures equal the grouped form on random texts") {
    val docGen = Gen.nonEmptyListOf(
      Gen.choose(1, 30).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
          "zeta", "eta", "theta")).map(_.mkString(" "))))
    samples(docGen, 6).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val grouped = graft.dedup.Dedup
        .minhashSignatures(df, "doc_id", "text", 3, 8)
        .orderBy("doc_id").collect().map(_.toSeq)
      val rowwise = graft.dedup.Dedup
        .withRowwiseMinhashSignatures(df, "text", 3, 8)
        .select("doc_id", (0 until 8).map(i => s"h$i"): _*)
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(grouped.toSeq == rowwise.toSeq)
    }
  }

  test("ZValue interleave: bit i of x → z bit 2i, bit i of y → z bit 2i+1 " +
    "(random 31-bit inputs, interpreted + codegen paths agree)") {
    import graft.functions.ZValue
    val pairs = samples(for {
      x <- Gen.choose(0L, ZValue.MaxKey)
      y <- Gen.choose(0L, ZValue.MaxKey)
    } yield (x, y), 200)
    // independent bit-by-bit reconstruction against the mask cascade
    pairs.foreach { case (x, y) =>
      val z = ZValue.interleave(x, y)
      val expected = (0 until 31).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
      assert(z == expected, s"interleave($x, $y)")
      assert(z >= 0L, s"z must stay in the signed-positive range: ($x, $y)")
    }
    // codegen path (via the registered SQL function) matches interpreted
    val df = pairs.toDF("x", "y")
      .selectExpr("x", "y", "graft_zvalue(x, y) AS z").collect()
    df.foreach(r => assert(r.getLong(2) ==
      ZValue.interleave(r.getLong(0), r.getLong(1))))
    // out-of-domain input → null, never a garbage ordering: negatives
    // (sign bit) and keys ≥ 2³¹ (y's bit 31 would land on the long's
    // sign bit, flipping z negative and breaking signed z order — the
    // range-clustering write path sorts SIGNED)
    val bad = Seq((-1L, 3L), (3L, -1L),
      (ZValue.MaxKey + 1, 3L), (3L, ZValue.MaxKey + 1)).toDF("x", "y")
      .selectExpr("graft_zvalue(x, y) AS z").collect()
    assert(bad.forall(_.isNullAt(0)))
    // ...while the full 31-bit corner is admitted and ordered correctly:
    // (MaxKey, MaxKey) is the largest z and still non-negative
    val corner = Seq((ZValue.MaxKey, ZValue.MaxKey)).toDF("x", "y")
      .selectExpr("graft_zvalue(x, y) AS z").collect()
    assert(corner.head.getLong(0) == ZValue.interleave(ZValue.MaxKey, ZValue.MaxKey))
    assert(corner.head.getLong(0) == 0x3FFFFFFFFFFFFFFFL)
  }

  test("inclusiveDayRange ≡ [start 00:00, end+1day 00:00)") {
    val base = 1704067200L // 2024-01-01 00:00:00 UTC
    samples(Gen.listOfN(40, Gen.choose(0L, 40L * 86400)), 8).foreach { secs =>
      val df = secs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "off")
        .withColumn("ts", timestamp_seconds(col("off") + lit(base)).cast("timestamp_ntz"))
      val a = df.filter(History.inclusiveDayRange(col("ts"), "2024-01-10", "2024-01-20"))
        .select("id").as[Long].collect().toSet
      val b = df.filter(col("ts") >= to_timestamp_ntz(lit("2024-01-10 00:00:00")) &&
          col("ts") < to_timestamp_ntz(lit("2024-01-21 00:00:00")))
        .select("id").as[Long].collect().toSet
      assert(a == b)
    }
  }

  test("cusum range is exactly shift-invariant; winsorized mean stays inside " +
    "the clamp bounds (random series)") {
    import graft.queries.{Breadth11, Extensions10}
    val gen = Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 4L)
      sec <- Gen.choose(0L, 500L)
      cents <- Gen.choose(0L, 50000L)
    } yield (user, sec, cents))
    samples(gen, 6).foreach { rows =>
      val distinctRows = rows.zipWithIndex
        .map { case ((u, s, c), i) => (u, s, c, i.toLong) }
      def frame(shiftCents: Long) = distinctRows
        .map { case (u, s, c, i) => (u, (c + shiftCents) / 100.0, s, i) }
        .toDF("user_id", "value", "sec", "event_id")
        .withColumn("ts", timestamp_seconds(col("sec")).cast("timestamp_ntz"))
      def cusum(shift: Long) = Breadth11.cusumRange(frame(shift),
          "user_id", "value", Seq(col("ts").asc, col("event_id").asc))
        .select("user_id", "cusum_range")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
      // mean-centering makes the walk exactly invariant to a level shift
      assert(cusum(0L) === cusum(7700L))
      // winsorized mean must land inside [lo, hi] for every group
      val w = Extensions10.winsorizedStats(
        distinctRows.map { case (u, _, c, i) => (i, u.toString, c.toInt) }
          .toDF("doc_id", "lang", "n_chars"),
        "lang", "n_chars", "doc_id", k = 2)
        .select("lo", "hi", "win_mean")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      w.foreach { case (lo, hi, m) =>
        assert(lo <= hi && m >= lo.toDouble && m <= hi.toDouble, s"($lo,$hi,$m)")
      }
    }
  }

  test("native as-of join == union+window form on random fact/probe frames " +
    "(ties, duplicate timestamps, probe-before-first, absent keys)") {
    val factsGen = Gen.nonEmptyListOf(for {
      id <- Gen.choose(1L, 10000L)
      user <- Gen.choose(1L, 6L)
      sec <- Gen.choose(0L, 30L) // small domain -> frequent exact-ts ties
      v <- Gen.choose(-100.0, 100.0)
    } yield (id, user, sec, v))
    val probesGen = Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 8L) // 7..8 never have facts -> null path
      sec <- Gen.choose(-5L, 35L) // before-first and after-last probes
    } yield (user, sec))
    samples(factsGen.flatMap(f => probesGen.map(p => (f, p))), 10)
      .foreach { case (fRows, pRows) =>
        val facts = fRows.toDF("event_id", "user_id", "sec", "value")
          .withColumn("ts", timestamp_seconds(col("sec")).cast("timestamp_ntz"))
        val probes = pRows.distinct.toDF("user_id", "psec")
          .withColumn("probe_ts", timestamp_seconds(col("psec")).cast("timestamp_ntz"))
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.select(col("user_id"), col("probe_ts"), col("asof_value"))
            .collect().map(r => (r.getLong(0), r.get(1).toString,
              Option(r.get(2)).map(_.asInstanceOf[Double])))
            .toSeq.sortBy(t => (t._1, t._2))
        val native = canon(Latest.asOfJoinNative(facts, probes,
          "user_id", "ts", "probe_ts", "value", "event_id"))
        val window = canon(Latest.asOfJoin(facts, probes,
          "user_id", "ts", "probe_ts", "value", "event_id"))
        assert(native == window,
          s"native vs window diverged on ${fRows.size} facts/${pRows.size} probes")
      }
  }

  test("tolerance as-of: native emit-check == union+window gap null-out " +
    "on random frames, and equals the untolerated form with wide gaps " +
    "nulled") {
    val factsGen = Gen.nonEmptyListOf(for {
      id <- Gen.choose(1L, 10000L)
      user <- Gen.choose(1L, 6L)
      sec <- Gen.choose(0L, 30L)
      v <- Gen.choose(-100.0, 100.0)
    } yield (id, user, sec, v))
    val probesGen = Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 8L)
      sec <- Gen.choose(-5L, 35L)
    } yield (user, sec))
    val tolGen = Gen.oneOf(0L, 3L, 10L)
    samples(for { f <- factsGen; p <- probesGen; t <- tolGen }
        yield (f, p, t), 10)
      .foreach { case (fRows, pRows, tolSec) =>
        val tolMicros = tolSec * 1000000L
        val facts = fRows.toDF("event_id", "user_id", "sec", "value")
          .withColumn("ts", timestamp_seconds(col("sec")).cast("timestamp_ntz"))
        val probes = pRows.distinct.toDF("user_id", "psec")
          .withColumn("probe_ts", timestamp_seconds(col("psec")).cast("timestamp_ntz"))
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.select(col("user_id"), col("probe_ts"), col("asof_value"))
            .collect().map(r => (r.getLong(0), r.get(1).toString,
              Option(r.get(2)).map(_.asInstanceOf[Double])))
            .toSeq.sortBy(t => (t._1, t._2))
        val native = canon(Latest.asOfJoinNativeValues(facts, probes,
          "user_id", "ts", "probe_ts", Seq("value"), "event_id",
          toleranceMicros = Some(tolMicros)))
        val window = canon(Latest.asOfJoinTol(facts, probes,
          "user_id", "ts", "probe_ts", "value", "event_id", tolMicros))
        assert(native == window, s"tolerance forms diverged at tol=${tolSec}s")
        // ground truth: the untolerated match, nulled when the matched
        // fact's max ts is more than tol before the probe
        val maxTs = fRows.groupBy(_._2).map { case (u, rs) =>
          u -> rs.map(_._3)
        }
        val untol = canon(Latest.asOfJoin(facts, probes,
          "user_id", "ts", "probe_ts", "value", "event_id"))
        val expected = untol.map { case (u, pts, v) =>
          val pSec = java.time.LocalDateTime.parse(pts.replace(' ', 'T'))
            .toEpochSecond(java.time.ZoneOffset.UTC)
          val gapOk = maxTs.get(u).exists(_.exists(s =>
            s <= pSec && pSec - s <= tolSec))
          (u, pts, if (gapOk) v else None)
        }
        assert(native == expected, s"tolerance semantics at tol=${tolSec}s")
      }
  }

  test("psarStep invariants on random bars: AF stays in [0.02, 0.2], " +
    "resets on every reversal, and the clamped SAR respects the prior " +
    "two bars' extremes") {
    val barsGen = Gen.nonEmptyListOf(for {
      lo <- Gen.choose(100L, 2000L)
      spread <- Gen.choose(0L, 300L)
    } yield (lo, lo + spread))
    samples(barsGen, 12).foreach { bars =>
      var st: Option[graft.queries.Breadth30.PsarAcc] = None
      bars.foreach { case (lo, hi) =>
        val prev = st
        val a = graft.queries.Breadth30.psarStep(st, hi, lo)
        st = Some(a)
        assert(a.af >= 2.0 / 100.0 - 1e-15 && a.af <= 20.0 / 100.0 + 1e-15)
        prev.foreach { p =>
          if (p.up != a.up) assert(a.af == 2.0 / 100.0, "AF resets on flip")
          else if (!p.up && a.ep == p.ep && a.sar != p.ep.toDouble)
            // no reversal, no new extreme: SAR moved toward EP but the
            // clamp keeps it at or above the prior two highs
            assert(a.sar >= math.max(p.h1, p.h2).toDouble - 1e-9)
        }
      }
    }
  }

  test("crsiStep invariants on random closes: every component stays in " +
    "[0, 100], the ring never exceeds 100 returns, and streak signs " +
    "track the close direction") {
    val closesGen = Gen.nonEmptyListOf(Gen.choose(1L, 3000L))
    samples(closesGen, 10).foreach { closes =>
      var st: Option[graft.queries.Breadth34.CrsiAcc] = None
      closes.zipWithIndex.foreach { case (c, i) =>
        val prev = st
        val a = graft.queries.Breadth34.crsiStep(st, c, i)
        st = Some(a)
        assert(a.ring.length <= 100)
        a.rsi3.foreach(v => assert(v >= 0.0 && v <= 100.0))
        a.rsi2.foreach(v => assert(v >= 0.0 && v <= 100.0))
        a.pr.foreach(v => assert(v >= 0.0 && v <= 100.0))
        prev.foreach { p =>
          if (c > p.pc) assert(a.streak > 0)
          else if (c < p.pc) assert(a.streak < 0)
          else assert(a.streak == 0)
        }
      }
    }
  }

  test("kcenter equals the driver-side greedy max-min reference on " +
    "random small corpora (quantized-cosine ties included)") {
    def vec(seed: Long, dim: Int): Array[Float] =
      Array.tabulate(dim)(d => (math.sin(seed * 13.7 + d * 3.1) +
        0.3 * math.cos(seed * 5.3 - d * 1.7)).toFloat)
    def q6cos(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1.0e6 + 0.5).toLong
    }
    for (t <- 0 until 6) {
      val n = 12 + t * 5
      val rows = (0 until n).map(i =>
        // duplicate every 5th vector to force cosine-1.0 ties
        (i.toLong, vec(if (i % 5 == 4) i - 1 else i + t * 100L, 6), 0))
      val byId = rows.map(r => r._1 -> r._2).toMap
      val k = 5
      // driver-side greedy reference
      var sel = Vector(rows.map(_._1).min)
      var expect = Vector[(Int, Long, Option[Long])]((1, sel.head, None))
      for (pick <- 2 to k) {
        val cands = rows.map(_._1).filterNot(sel.contains)
        val scored = cands.map(c =>
          (sel.map(sid => q6cos(byId(c), byId(sid))).max, c))
        val best = scored.minBy { case (mc, id) => (mc, id) }
        sel = sel :+ best._2
        expect = expect :+ ((pick, best._2, Some(best._1)))
      }
      val got = graft.queries.Breadth136.kcenter(
          rows.toDF("vec_id", "embedding", "label"), k)
        .collect().map(r => (r.getInt(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toVector
      assert(got === expect, s"t=$t")
    }
  }

  test("powerIteration equals the driver-side exact recurrence " +
    "bit-for-bit on random matrices (integer cross-row sums are " +
    "order-free, so distribution cannot perturb it)") {
    def vec(seed: Long, dim: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        (math.sin(seed * 7.9 + d * 2.3) * (1 + (d % 3))).toFloat)
    for (t <- 0 until 4) {
      val n = 20 + t * 13
      val dim = 64
      val rows = (0 until n).map(i => (i.toLong, vec(i + t * 1000L, dim), 0))
      val xq = rows.map(_._2.map(x =>
        math.floor(x.toDouble * 1.0e6 + 0.5)))
      var v = Array.fill(dim)(1.0)
      for (_ <- 1 to 8) {
        val sums = Array.fill(dim)(0L)
        xq.foreach { row =>
          var d = 0.0; var i = 0
          while (i < dim) { d += row(i) * v(i); i += 1 }
          i = 0
          while (i < dim) {
            sums(i) += math.floor(row(i) * d + 0.5).toLong; i += 1
          }
        }
        val m = sums.map(math.abs).max.toDouble
        v = sums.map(_.toDouble / m)
      }
      val got = graft.queries.Breadth137.powerIteration(
          rows.toDF("vec_id", "embedding", "label"))
        .collect().map(r => r.getDouble(1))
      assert(got.toSeq === v.toSeq, s"t=$t")
    }
  }

  test("ProjGraph.roundedCosine equals round(Similarity.cosine, 6) on " +
    "random float vectors and next to .5 decimal boundaries") {
    import graft.sim.{ProjGraph, Similarity}
    val vecGen = for {
      n <- Gen.choose(1, 8)
      a <- Gen.listOfN(n, Gen.choose(-2.0f, 2.0f))
      b <- Gen.listOfN(n, Gen.choose(-2.0f, 2.0f))
    } yield (a.toArray, b.toArray)
    // the unrounded fold of roundedCosine, to steer the constructions
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // Boundary cases: a = e1 and b = (1, q, e1, e2), so cos = 1/|b|. For
    // the double t nearest a 7-digit decimal ending in 5, q is the
    // float just below the value putting cos on t; the small components
    // then lower cos onto t — e1 in coarse steps (last value still above
    // t), e2 in sub-ulp steps of |b|² (both sides of the crossing).
    val e1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    def lastAbove(b: Array[Float], i: Int, t: Double): Array[Float] = {
      def at(bits: Int) = { val c = b.clone(); c(i) = java.lang.Float.intBitsToFloat(bits); c }
      var lo = 0; var hi = java.lang.Float.floatToIntBits(1.0f)
      while (hi - lo > 1) {
        val mid = (lo + hi) >>> 1
        if (cos(e1, at(mid)) > t) lo = mid else hi = mid
      }
      at(lo)
    }
    val boundary = samples(Gen.choose(100000, 999999), 24).flatMap { k =>
      val t = (BigDecimal(k) + BigDecimal("0.5")).bigDecimal.movePointLeft(6).doubleValue
      var q = math.sqrt(1.0 / (t * t) - 1.0).toFloat
      while (cos(e1, Array(1.0f, q, 0.0f, 0.0f)) <= t) q = Math.nextDown(q)
      val coarse = lastAbove(Array(1.0f, q, 0.0f, 0.0f), 2, t)
      val above = lastAbove(coarse, 3, t)
      val below = above.clone()
      below(3) = Math.nextUp(above(3))
      val closest = Seq(above, below).map(b => math.abs(cos(e1, b) - t)).min
      assert(closest <= Math.ulp(t), s"construction missed t=$t by $closest")
      Seq((e1, above), (e1, below))
    }
    val cases = samples(vecGen, 200) ++ boundary
    val got = cases.zipWithIndex
      .map { case ((a, b), i) => (i, a.toSeq, b.toSeq) }
      .toDF("i", "a", "b")
      .select(col("i"), round(Similarity.cosine(col("a"), col("b")), 6))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(ProjGraph.roundedCosine(a, b) == got(i),
        s"a=${a.toSeq} b=${b.toSeq} cos=${cos(a, b)}")
    }
  }
}

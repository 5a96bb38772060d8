package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Retrieval}

/** Specs for the behavioral-analytics + retrieval tier. The DuckDB gates
  * (fu01/rt01/im01/qt01/hg01/bm01/lr01) hash-match whole results; these
  * pin the semantic corner cases the gate's data may not hit: funnel
  * strict ordering, stallers, interval touch-vs-gap, quantile rank edges,
  * histogram clamping, BM25 idf monotonicity, and regression on an exact
  * line.
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("skyline2d: equals brute-force dominance, duplicates survive together") {
    val rnd = new scala.util.Random(23)
    val pts = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      Seq((0L, 39L), (0L, 39L)) // duplicated candidate frontier point
    val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("id", "x", "y")
    val got = Analytics.skyline2d(df, "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    val want = pts.zipWithIndex.collect { case ((x, y), i)
      if !pts.exists { case (qx, qy) =>
        qx <= x && qy <= y && (qx < x || qy < y) } => (i.toLong, x, y)
    }.toSet
    assert(got == want)
    // every duplicate of a surviving frontier point is kept
    val dupIds = pts.zipWithIndex.collect { case ((0L, 39L), i) => i.toLong }.toSet
    assert(dupIds.subsetOf(got.map(_._1)) || dupIds.intersect(got.map(_._1)).isEmpty)
  }

  test("countMin: overestimate-only, exact when wide, cell-sum merge") {
    import graft.operators.Sketch
    val rows = (1 to 30).flatMap(i => Seq.fill(i * 3)(s"k$i"))
    val df = spark.createDataset(rows).repartition(5).toDF("key")
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = ((1 to 30 by 3).map(i => s"k$i") :+ "absent").toDF("key")
    // narrow sketch: 30 keys into 8 buckets — collisions guaranteed, but
    // never an underestimate; absent key stays 0 or collides upward
    val narrow = Sketch.countMinBuild(df, "key", depth = 3, width = 8)
    val estN = Sketch.countMinEstimate(narrow, probes, "key", 3, 8)
      .as[(String, Long)].collect().toMap
    for ((k, e) <- estN) assert(e >= exact.getOrElse(k, 0L), s"$k under")
    // wide sketch: collisions vanishingly unlikely at width 4096 -> exact
    val wide = Sketch.countMinBuild(df, "key", depth = 4, width = 4096)
    val estW = Sketch.countMinEstimate(wide, probes, "key", 4, 4096)
      .as[(String, Long)].collect().toMap
    assert(estW == probes.as[String].collect()
      .map(k => k -> exact.getOrElse(k, 0L)).toMap)
    // mergeability: sketch(A ++ B) == cellwise sum of sketch(A), sketch(B)
    val (a, b) = (rows.take(500), rows.drop(500))
    val skA = Sketch.countMinBuild(a.toDF("key"), "key", 3, 8)
    val skB = Sketch.countMinBuild(b.toDF("key"), "key", 3, 8)
    val merged = skA.unionByName(skB).groupBy("row_i", "bucket")
      .agg(sum("cnt").as("cnt"))
      .as[(Int, Int, Long)].collect().toSet
    val whole = narrow.as[(Int, Int, Long)].collect().toSet
    assert(merged == whole)
  }

  test("phraseSearch: overlap counting, repeated terms, case fold, edges") {
    val docs = Seq(
      (1L, "a a a a"),           // "a a" overlaps 3x; "a a a" overlaps 2x
      (2L, "X y x Y"),           // case-folded "x y" at 0 and 2
      (3L, "b"),                 // phrase longer than doc: no match
      (4L, "a b a b a"),         // "a b a" overlapping at 0 and 2
      (5L, "")).toDF("doc_id", "text")
    val phrases = Seq((1, "a a"), (2, "a a a"), (3, "x y"),
      (4, "a b a"), (5, "b"), (6, "missing term")).toDF("phrase_id", "phrase")
    val got = Retrieval.phraseSearch(docs, "doc_id", "text", phrases)
      .as[(Int, Long, Long)].collect().toSet
    assert(got == Set(
      (1, 1L, 3L), (2, 1L, 2L), (3, 2L, 2L), (4, 4L, 2L),
      (5, 3L, 1L), (5, 4L, 2L)))
  }

  test("heavyHitters: equals brute force under adversarial partitioning") {
    // Zipf-ish stream: key i appears ~ 2000/i times, plus a noise tail of
    // singletons so the distinct-key set dwarfs the heavy set
    val rows = (1 to 40).flatMap(i => Seq.fill(2000 / i)(s"k$i")) ++
      (1 to 3000).map(i => s"noise$i")
    val brute = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.size.toLong
    for (parts <- Seq(1, 7, 32); (num, den) <- Seq((1L, 100L), (1L, 37L))) {
      val df = spark.createDataset(scala.util.Random.shuffle(rows))
        .repartition(parts).toDF("key")
      val got = Analytics.heavyHitters(df, "key", num, den)
        .as[(String, Long)].collect().toMap
      val threshold = (n * num + den - 1) / den
      val want = brute.filter(_._2 >= threshold)
      assert(got == want, s"parts=$parts num/den=$num/$den t=$threshold")
    }
    // empty input → empty result, no divide-by-zero
    assert(Analytics.heavyHitters(Seq.empty[String].toDF("key"),
      "key", 1L, 10L).count() == 0)
  }

  test("funnelTimes: strict order, stallers kept, same-ts not counted") {
    val ev = Seq(
      // u1 completes in order
      (1L, ts("2024-01-01 00:00:00"), "a"),
      (1L, ts("2024-01-01 01:00:00"), "b"),
      (1L, ts("2024-01-01 02:00:00"), "c"),
      // u2 does b BEFORE a, then never again → stalls at a
      (2L, ts("2024-01-01 00:30:00"), "b"),
      (2L, ts("2024-01-01 01:00:00"), "a"),
      // u3 does a and b at the SAME instant → b not strictly after a
      (3L, ts("2024-01-01 00:00:00"), "a"),
      (3L, ts("2024-01-01 00:00:00"), "b"),
      // u4 never does a → not in the funnel at all
      (4L, ts("2024-01-01 00:00:00"), "b")
    ).toDF("user_id", "t", "step")
    val ft = Analytics.funnelTimes(ev, "user_id", "t", "step",
      Seq("a", "b", "c"))
    val byUser = ft.collect().map(r =>
      r.getLong(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    assert(byUser.keySet == Set(1L, 2L, 3L))
    assert(byUser(1L) ==
      ((ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"),
        ts("2024-01-01 02:00:00"))))
    assert(byUser(2L)._2 == null && byUser(2L)._3 == null)
    assert(byUser(3L)._2 == null)
  }

  test("funnelTimes: earliest qualifying time is picked, not just any") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), "a"),
      (1L, ts("2024-01-01 00:10:00"), "b"),
      (1L, ts("2024-01-01 00:20:00"), "b")
    ).toDF("user_id", "t", "step")
    val r = Analytics.funnelTimes(ev, "user_id", "t", "step", Seq("a", "b"))
      .collect().head
    assert(r.get(2) == ts("2024-01-01 00:10:00"))
  }

  test("retentionCohorts: cohort from first activity, offsets integer") {
    val ev = Seq(
      (1L, ts("1970-01-01 00:00:30")),  // period 0
      (1L, ts("1970-01-01 00:02:10")),  // period 2 → offset 2
      (2L, ts("1970-01-01 00:01:05")),  // period 1
      (2L, ts("1970-01-01 00:01:55")),  // period 1 again → one cell
      (2L, ts("1970-01-01 00:02:30"))   // period 2 → offset 1
    ).toDF("user_id", "t")
    val got = Analytics.retentionCohorts(ev, "user_id", "t", 60L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 0L, 1L), (0L, 2L, 1L), (1L, 0L, 1L), (1L, 1L, 1L)))
  }

  test("mergeIntervals: overlap merges, touch merges, gap splits") {
    val iv = Seq(
      (1L, 10L, 0L, 10L),   // ┐ overlap
      (2L, 10L, 5L, 20L),   // ┘
      (3L, 10L, 20L, 25L),  // touches end=20 → same group (start !> pm)
      (4L, 10L, 30L, 40L),  // gap → new group
      (5L, 10L, 32L, 33L),  // nested inside previous
      (6L, 20L, 0L, 1L)     // other key untouched
    ).toDF("iid", "k", "s", "e")
    val got = Analytics.mergeIntervals(iv, "k", "s", "e", "iid")
      .select("k", "merged_seq", "m_start", "m_end", "n_intervals")
      .as[(Long, Int, Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 1, 0L, 25L, 3L), (10L, 2, 30L, 40L, 2L),
      (20L, 1, 0L, 1L, 1L)))
  }

  test("groupQuantiles: rank-selection endpoints and duplicate values") {
    // n=5, values 1..5: p25→rank 1+(25*4)//100=2, p50→rank 3, p100→rank 5
    val df = Seq(("g", 1), ("g", 2), ("g", 3), ("g", 4), ("g", 5))
      .toDF("k", "v")
    val got = Analytics.groupQuantiles(df, "k", "v", Seq(0, 25, 50, 100))
      .select("pct", "v").as[(Int, Int)].collect().toSet
    assert(got == Set((0, 1), (25, 2), (50, 3), (100, 5)))
    // duplicates: the selected VALUE is deterministic under ties
    val dup = Seq(("g", 7), ("g", 7), ("g", 7), ("g", 9)).toDF("k", "v")
    val p50 = Analytics.groupQuantiles(dup, "k", "v", Seq(50))
      .select("v").as[Int].collect().toList
    assert(p50 == List(7))
  }

  test("histogram: clamping, empty bins absent, edge ownership") {
    val df = Seq(-5.0, 0.0, 9.99, 10.0, 25.0, 99.9, 100.0, 250.0)
      .toDF("x")
    val got = Analytics.histogram(df, "x", 0.0, 100.0, 10)
      .select("bin", "n").as[(Long, Long)].collect().toMap
    // -5 clamps to bin 0; 10.0 belongs to bin 1 (left-closed); 100 and
    // 250 clamp to bin 9; bins with no hits don't appear
    assert(got == Map(0L -> 3L, 1L -> 1L, 2L -> 1L, 9L -> 3L))
  }

  test("bm25: rarer term outranks common term; tf monotone; k respected") {
    val docs = Seq(
      (1L, "rare common filler filler"),
      (2L, "common filler filler filler"),
      (3L, "common common filler filler"),
      (4L, "filler filler filler filler")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "rare"), (2L, "common")).toDF("query_id", "term")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 2)
      .select("query_id", "doc_id", "rank", "score_scaled")
      .as[(Long, Long, Int, Long)].collect()
    val q1 = got.filter(_._1 == 1L)
    val q2 = got.filter(_._1 == 2L).sortBy(_._3)
    assert(q1.map(_._2).toSet == Set(1L))            // only doc 1 has "rare"
    assert(q2.map(_._2).toList == List(3L, 1L) ||
      q2.map(_._2).toList == List(3L, 2L))           // tf=2 doc wins
    // rare-term score (df=1) beats common-term score (df=3) at equal tf/dl
    val rareScore = q1.head._4
    val commonTf1 = got.find(t => t._1 == 2L && t._2 != 3L).get._4
    assert(rareScore > commonTf1)
    assert(got.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("kmvDistinct: small groups exact, large groups within KMV bound") {
    val df = ((1 to 10).map(i => ("small", i.toLong)) ++
      (1 to 20000).map(i => ("big", i.toLong))).toDF("g", "id")
    val got = graft.operators.Sketch.kmvDistinct(df, "g", "id", k = 256)
      .select("g", "n_kept", "estimate")
      .as[(String, Long, Double)].collect()
      .map { case (g, nk, est) => g -> ((nk, est)) }.toMap
    assert(got("small") == ((10L, 10.0)))   // below resolution → exact
    val (nkBig, estBig) = got("big")
    assert(nkBig == 256L)
    // relative error ~1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
    assert(math.abs(estBig - 20000.0) / 20000.0 < 0.25, s"est=$estBig")
  }

  test("kmvDistinct: duplicates don't inflate; union merge = direct sketch") {
    val dup = (1 to 500).flatMap(i => Seq(("g", i.toLong), ("g", i.toLong)))
      .toDF("g", "id")
    val one = (1 to 500).map(i => ("g", i.toLong)).toDF("g", "id")
    val a = graft.operators.Sketch.kmvDistinct(dup, "g", "id", 64)
      .select("estimate").as[Double].collect().head
    val b = graft.operators.Sketch.kmvDistinct(one, "g", "id", 64)
      .select("estimate").as[Double].collect().head
    assert(a == b)
    // mergeability: sketching the union of two halves == sketching whole
    val h1 = (1 to 300).map(i => ("g", i.toLong)).toDF("g", "id")
    val h2 = (200 to 500).map(i => ("g", i.toLong)).toDF("g", "id")
    val merged = graft.operators.Sketch.kmvDistinct(
      h1.unionByName(h2), "g", "id", 64)
      .select("estimate").as[Double].collect().head
    assert(merged == b)
  }

  test("chiSquare: exact independence gives zero statistic; dof right") {
    // counts = rowWeight × colWeight → expected == observed everywhere
    val rows = for {
      (r, rw) <- Seq(("r1", 1), ("r2", 2))
      (c, cw) <- Seq(("c1", 1), ("c2", 3), ("c3", 2))
      _ <- 1 to rw * cw
    } yield (r, c)
    val got = graft.operators.Analytics.chiSquare(rows.toDF("r", "c"), "r", "c")
    val first = got.select("chi2_scaled", "dof").as[(Long, Long)]
      .collect().head
    assert(first == ((0L, 2L)))
    assert(got.select(max(abs(col("term")))).as[Double].collect().head == 0.0)
  }

  test("zscoreOutliers: finds the planted outlier, skips n=1 groups") {
    val df = (Seq.fill(20)(("g", 10.0)) ++ Seq(("g", 1000.0), ("solo", 5.0)))
      .zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
      .toDF("id", "k", "v")
    val hits = graft.operators.Analytics.zscoreOutliers(df, "k", "v", 2.0)
      .select("k", "v").as[(String, Double)].collect()
    assert(hits.toSeq == Seq(("g", 1000.0)))
  }

  test("madOutliers: planted outlier found, robust to the outlier itself; degenerate groups silent") {
    // group g: 1..21 (med 11, MAD 5) + planted 1000 → only the plant
    // exceeds 3×MAD. zscore at the same data would have its mean/std
    // dragged by the plant; MAD's cut stays put.
    val g = (1L to 21L).map(v => ("g", v * 10, v)) :+ (("g", 10000L, 22L))
    val extra = Seq(("solo", 7L, 23L), ("flat", 5L, 24L), ("flat", 5L, 25L))
    val df = (g ++ extra).toDF("k", "v", "id")
    val hits = graft.operators.Analytics.madOutliers(df, "k", "id", "v", 3)
      .select("k", "v", "med", "mad", "dev")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(hits == Seq(("g", 10000L, 110L, 50L, 9890L)))
  }

  test("cohensKappa: textbook 0.4 case exactly; constant raters give NULL") {
    // 2×2 with po=0.7, pe=0.5 → kappa = 0.4 exactly in integer arithmetic
    val cells = Seq(("y", "y", 35), ("y", "n", 15), ("n", "y", 15),
      ("n", "n", 35))
    val rows = cells.flatMap { case (a, b, c) => Seq.fill(c)(("g1", a, b)) } ++
      Seq.fill(10)(("g2", "x", "x")) // both raters constant → pe = 1
    val got = graft.operators.Analytics.cohensKappa(
        rows.toDF("grp", "ra", "rb"), "grp", "ra", "rb")
      .orderBy("grp")
      .select("grp", "n", "n_agree", "kappa")
      .as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(got == Seq(("g1", 100L, 70L, Some(0.4)),
      ("g2", 10L, 10L, None)))
  }

  test("mmrRerank: near-duplicate runner-up displaced by a diverse doc") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // shares 5/7 grams
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val cands = Seq((9L, 1L, 1000000L), (9L, 2L, 920000L),
      (9L, 3L, 700000L)).toDF("query_id", "doc_id", "score_scaled")
    val got = Retrieval.mmrRerank(cands, "doc_id", "score_scaled",
        docs, "doc_id", "text", k = 3)
      .orderBy("rank").select("doc_id", "rank")
      .as[(Long, Int)].collect().toSeq
    // round 2: B scores 0.7·0.92 − 0.3·(5/7) ≈ 0.430 < C's 0.7·0.7 = 0.49
    assert(got == Seq((1L, 1), (3L, 2), (2L, 3)),
      s"diversity must displace the near-duplicate: $got")
    // with λ = 1 MMR degenerates to pure relevance order
    val pure = Retrieval.mmrRerank(cands, "doc_id", "score_scaled",
        docs, "doc_id", "text", k = 3, lambdaNum = 10, lambdaDen = 10)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(pure == Seq(1L, 2L, 3L))
  }

  test("quantileNormalize: endpoints map to endpoints, distributions align, singleton to median") {
    // group a: shifted low; group b: shifted high; after normalization
    // both map onto the same global value set by rank
    val rows = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("b", 4L, 100L), ("b", 5L, 200L), ("b", 6L, 300L),
      ("solo", 7L, 55L))
    val got = graft.operators.Analytics.quantileNormalize(
        rows.toDF("g", "id", "v"), "g", "id", "v")
      .select("id", "normalized").as[(Long, Long)].collect().toMap
    // N=7; global sorted values: 10,20,30,55,100,200,300
    // group a/b (n=3): ranks 1,2,3 → global ranks 1, 4, 7 → 10, 55, 300
    assert(got(1L) == 10L && got(2L) == 55L && got(3L) == 300L)
    assert(got(4L) == 10L && got(5L) == 55L && got(6L) == 300L)
    // singleton → global median rank 4 → 55
    assert(got(7L) == 55L)
  }

  test("profileKeys: hot key gets a leveling salt, uniform keys get 1") {
    val rows = Seq.fill(90)("hot") ++ (1 to 10).map(i => s"cold$i")
    val got = graft.operators.Skew.profileKeys(rows.toDF("k"), "k", topK = 3)
      .select("k", "cnt", "permille", "suggested_salt")
      .as[(String, Long, Long, Long)].collect().toSeq
    // N=100, D=11: hot → ceil(90·11/100)=10 buckets; cold → 1
    assert(got.head == (("hot", 90L, 900L, 10L)))
    assert(got.tail.forall { case (_, c, pm, s) =>
      c == 1L && pm == 10L && s == 1L })
  }

  test("winsorize: exact rank bounds, clipping flags, per-group isolation") {
    val df = ((1L to 10L).map(v => ("g", v, v * 100)) :+ (("solo", 99L, 5L)))
      .toDF("k", "id", "v")
    val got = graft.operators.Analytics.winsorize(df, "k", "id", "v", 10, 90)
      .where($"k" === "g")
      .select("v", "lo", "hi", "clipped", "was_clipped")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // n=10: lo rank 1 → 100, hi rank 9 → 900; only 1000 clips
    assert(got.forall { case (_, lo, hi, _, _) => lo == 100 && hi == 900 })
    assert(got.map(_._4) == Seq(100L, 200L, 300L, 400L, 500L, 600L, 700L,
      800L, 900L, 900L))
    assert(got.count(_._5) == 1)
  }

  test("weekdayProfile: engine-neutral dow, zero residual for constant weekdays") {
    // 1970-01-01 is a Thursday → dow (epoch+4)%7 = 4
    val days = (0 until 14).map { i =>
      val d = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i))
      (d, if (i % 7 < 2) 100.0 else 50.0) // value depends only on dow
    }
    val got = graft.operators.Analytics.weekdayProfile(
        days.toDF("day", "rev"), "day", "rev")
      .select("day", "dow", "residual").as[(java.sql.Date, Int, Double)]
      .collect().toSeq
    assert(got.size == 14)
    assert(got.forall(_._3 == 0.0), "constant-per-weekday ⟹ zero residual")
    assert(got.find(_._1.toString == "1970-01-01").get._2 == 4) // Thursday
  }

  test("linearFit2: exact plane recovered with r2=1; collinear and flat groups go NULL") {
    val exact = for {
      x1 <- 1 to 5; x2 <- 1 to 4
    } yield ("fit", x1.toDouble, x2.toDouble, 2.0 + 3.0 * x1 - x2)
    val collinear = (1 to 6).map(i =>
      ("coll", i.toDouble, 2.0 * i, i.toDouble)) // x2 = 2·x1 → singular
    val flat = (1 to 5).map(i => ("flat", i.toDouble, (i % 2).toDouble, 7.0))
    val df = (exact ++ collinear ++ flat).toDF("k", "x1", "x2", "y")
    val got = graft.operators.Analytics.linearFit2(df, "k", "x1", "x2", "y")
      .select("k", "beta0", "beta1", "beta2", "r2")
      .as[(String, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().map(r => r._1 -> r).toMap
    val fit = got("fit")
    assert(fit._2 == Some(2.0) && fit._3 == Some(3.0) &&
      fit._4 == Some(-1.0) && fit._5 == Some(1.0),
      s"expected exact plane, got $fit")
    assert(got("coll")._3.isEmpty && got("coll")._4.isEmpty,
      "singular system must yield NULL betas")
    // flat y: betas 0, intercept 7, SST = 0 → r2 NULL
    assert(got("flat")._2 == Some(7.0) && got("flat")._5.isEmpty)
  }

  test("ewmaSmooth: hand-computed halving weights, horizon truncation, envelope guard") {
    val df = Seq(("u", 1, 8L), ("u", 2, 4L), ("u", 3, 2L), ("w", 1, 6L))
      .toDF("k", "t", "v")
    val full = graft.operators.Analytics.ewmaSmooth(
        df, "k", Seq("t"), "v", "e", horizon = 16)
      .select("k", "t", "e").as[(String, Int, Double)].collect().toSet
    // u: 8/2=4; 8/4+4/2=4; 8/8+4/4+2/2=3; w independent: 6/2=3
    assert(full == Set(("u", 1, 4.0), ("u", 2, 4.0), ("u", 3, 3.0),
      ("w", 1, 3.0)))
    val h2 = graft.operators.Analytics.ewmaSmooth(
        df, "k", Seq("t"), "v", "e", horizon = 2)
      .where($"k" === "u" && $"t" === 3)
      .select("e").as[Double].collect().head
    assert(h2 == 4.0 / 4 + 2.0 / 2) // first value truncated out
    val over = Seq(("u", 1, 1L << 40)).toDF("k", "t", "v")
    assertThrows[Exception] {
      graft.operators.Analytics.ewmaSmooth(over, "k", Seq("t"), "v", "e")
        .collect()
    }
  }

  test("zoneMapReport: stats exact, pruning decision matches ground truth") {
    val df = Seq(("A", 1L, 10L), ("A", 5L, 11L), ("A", 10L, 12L),
      ("B", 20L, 13L), ("B", 25L, 14L), ("B", 30L, 15L)).toDF("blk", "x", "y")
    val got = graft.operators.Layout.zoneMapReport(df, col("blk"),
        Seq("x", "y"), "x", lo = 12L, hi = 25L)
      .orderBy("block_id")
      .select("block_id", "n_rows", "min_x", "max_x", "n_matching", "scanned")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(("A", 3L, 1L, 10L, 0L, false),
      ("B", 3L, 20L, 30L, 2L, true)))
    // the decision is conservative: scanned=false ⟹ n_matching=0
    got.foreach { case (_, _, _, _, m, s) => assert(s || m == 0L) }
  }

  test("movingAverage: partial leading frames, per-partition isolation") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0),
      ("b", 1, 100.0)).toDF("k", "t", "v")
    val got = graft.operators.Analytics.movingAverage(
        df, Seq("k"), "t", "v", nRows = 2)
      .select("k", "t", "mov_avg").as[(String, Int, Double)].collect().toSet
    assert(got == Set(("a", 1, 10.0), ("a", 2, 15.0), ("a", 3, 25.0),
      ("b", 1, 100.0)))
  }

  test("coPurchaseTopK: counts, rank ties, repeat-line dedup") {
    val li = Seq((1L, "A"), (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"), (3L, "A"), (3L, "B")).toDF("bk", "it")
    val got = graft.operators.Analytics.coPurchaseTopK(li, "bk", "it", 2)
      .select("item", "co_item", "n_baskets", "rank")
      .as[(String, String, Long, Int)].collect().toSet
    // (A,B) share 3 baskets despite A appearing twice in basket 1
    assert(got == Set(("A", "B", 3L, 1), ("A", "C", 1L, 2),
      ("B", "A", 3L, 1), ("B", "C", 1L, 2),
      ("C", "A", 1L, 1), ("C", "B", 1L, 2)))
  }

  test("transitionMatrix: counts per ordered step; probs sum to 1") {
    val ev = Seq(
      (1L, 1L, "x"), (1L, 2L, "y"), (1L, 3L, "x"),
      (2L, 1L, "x"), (2L, 2L, "y")).toDF("u", "t", "s")
    val got = graft.operators.Analytics.transitionMatrix(ev, "u", "t", "t", "s")
      .select("from_state", "to_state", "n", "prob")
      .as[(String, String, Long, Double)].collect()
    val m = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(m == Map(("x", "y") -> 2L, ("y", "x") -> 1L))
    val probSums = got.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    assert(probSums.forall { case (_, p) => math.abs(p - 1.0) < 1e-12 })
  }

  test("latestState: latest wins, tombstone deletes, merge associative") {
    val changes = Seq(
      (1L, 1L, 101L, "upsert", 10.0),
      (1L, 3L, 103L, "upsert", 30.0),   // latest for key 1
      (1L, 2L, 102L, "delete", 0.0),    // older delete ignored
      (2L, 1L, 201L, "upsert", 5.0),
      (2L, 2L, 202L, "delete", 0.0),    // key 2 tombstoned
      (3L, 1L, 301L, "upsert", 7.0)
    ).toDF("k", "t", "cid", "op", "v")
    def state(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Temporal.latestState(df, "k", "t", "cid", "op", "delete")
        .select("k", "cid", "v").as[(Long, Long, Double)].collect().toSet
    val full = state(changes)
    assert(full == Set((1L, 103L, 30.0), (3L, 301L, 7.0)))
    // incremental: snapshot of first batch ∪ later changes == full rebuild
    val first = changes.where(col("t") <= 1)
    val later = changes.where(col("t") > 1)
    val snap1 = graft.operators.Temporal.latestState(
      first, "k", "t", "cid", "op", "delete")
    assert(state(snap1.unionByName(later)) == full)
  }

  test("linearAttribution: credit conserved, remainder to recent, direct fallback") {
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    // user 1: purchase of 10 milli with 3 touches in window -> shares
    // 4 (most recent gets the extra), 3, 3; user 2: no touch -> direct
    val conv = Seq(
      (1L, ts(30), 900L, 10L),
      (2L, ts(30), 901L, 7L)).toDF("user_id", "ts", "event_id", "rev_milli")
    val touches = Seq(
      (1L, ts(1), "view", 10L),
      (1L, ts(2), "click", 11L),
      (1L, ts(3), "view", 12L) // most recent
    ).toDF("user_id", "ts", "event_type", "event_id")
    val got = graft.operators.Analytics.linearAttribution(conv, touches,
        "user_id", "ts", "event_type", "rev_milli",
        convIdCol = "event_id", touchTieCol = "event_id",
        windowSeconds = 3600)
      .as[(String, Long, Long)].collect()
      .map { case (c, n, r) => c -> ((n, r)) }.toMap
    // 10 div 3 = 3 each; remainder 1 -> rank-1 touch (ts(3), view)
    assert(got == Map(
      "view" -> (2L, 3L + 4L), "click" -> (1L, 3L), "direct" -> (1L, 7L)))
    // conservation: total credited == total conversion revenue
    assert(got.values.map(_._2).sum == 17L)
    // a touch OUTSIDE the window never earns credit
    val gotNarrow = graft.operators.Analytics.linearAttribution(conv, touches,
        "user_id", "ts", "event_type", "rev_milli",
        convIdCol = "event_id", touchTieCol = "event_id",
        windowSeconds = 60) // only ts(30)-60s window: no touches qualify
      .as[(String, Long, Long)].collect()
      .map { case (c, n, r) => c -> ((n, r)) }.toMap
    assert(gotNarrow == Map("direct" -> (2L, 17L)))
    // NEGATIVE revenue (a refund): split runs on abs(rev), sign
    // re-applied — credit exactly conserved, extra -1 to the most recent
    val refund = Seq((1L, ts(30), 902L, -10L))
      .toDF("user_id", "ts", "event_id", "rev_milli")
    val gotNeg = graft.operators.Analytics.linearAttribution(refund, touches,
        "user_id", "ts", "event_type", "rev_milli",
        convIdCol = "event_id", touchTieCol = "event_id",
        windowSeconds = 3600)
      .as[(String, Long, Long)].collect()
      .map { case (c, n, r) => c -> ((n, r)) }.toMap
    assert(gotNeg == Map("view" -> (2L, -7L), "click" -> (1L, -3L)))
    assert(gotNeg.values.map(_._2).sum == -10L)
  }

  test("DataQuality.report: planted violations of each check type") {
    val child = Seq((1L, 10.0), (1L, -3.0), (2L, 5.0), (4L, 2.0))
      .toDF("key", "v")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val got = graft.operators.DataQuality.report(child,
        rowChecks = Seq("v_nonneg" -> (col("v") >= 0)),
        uniqueKeys = Seq("key_unique" -> Seq("key")),
        refChecks = Seq(("key_in_parent", "key", parent)))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      "v_nonneg" -> ((4L, 1L)),       // the -3.0 row
      "key_unique" -> ((4L, 1L)),     // duplicate key 1
      "key_in_parent" -> ((4L, 1L)))) // orphan key 4
  }

  test("kmvSetOps: below-resolution pairs are exact set algebra") {
    // |A|=300, |B|=301, |A∩B|=101, |A∪B|=500 — all under k → exact
    val df = ((1 to 300).map(i => ("A", i.toLong)) ++
      (200 to 500).map(i => ("B", i.toLong))).toDF("g", "id")
    val r = graft.operators.Sketch.kmvSetOps(df, "g", "id", k = 1024)
      .select("g_a", "g_b", "est_a", "est_b", "est_union",
        "est_intersect", "jaccard_est")
      .as[(String, String, Double, Double, Double, Double, Double)]
      .collect()
    assert(r.length == 1)
    val (ga, gb, ea, eb, eu, ei, j) = r.head
    assert((ga, gb) == (("A", "B")))
    assert(ea == 300.0 && eb == 301.0 && eu == 500.0 && ei == 101.0)
    assert(math.abs(j - 101.0 / 500.0) < 1e-15)
  }

  test("gapFillForward: full spine, gaps flagged, values carried") {
    val d = Seq(("2024-01-01", 10.0), ("2024-01-04", 40.0))
      .map { case (s, v) => (java.sql.Date.valueOf(s), v) }
      .toDF("day", "v")
    val got = graft.operators.Analytics.gapFillForward(d, "day", "v")
      .select("day", "v", "filled", "is_gap")
      .as[(java.sql.Date, Option[Double], Double, Boolean)]
      .collect().sortBy(_._1.toString)
    assert(got.map(_._1.toString).toSeq == Seq(
      "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    assert(got.map(_._3).toSeq == Seq(10.0, 10.0, 10.0, 40.0))
    assert(got.map(_._4).toSeq == Seq(false, true, true, false))
  }

  test("exactQuantilesBisect: equals sort-rank selection through many passes") {
    val rnd = new scala.util.Random(91)
    // duplicates, negatives, a huge-magnitude tail and both ends of the
    // long range (max - min overflows a long); nBins = 4 forces the
    // interval refinement through many passes instead of one
    val vals = Seq.fill(3000)(rnd.nextInt(200).toLong - 100L) ++
      Seq.fill(50)(rnd.nextLong() / 4) ++ Seq(Long.MinValue / 4, Long.MaxValue / 4) ++
      Seq(Long.MinValue + 10, Long.MaxValue - 10, Long.MinValue, Long.MaxValue)
    val df = vals.toDF("v").repartition(7)
    val pcts = Seq(0, 1, 25, 50, 75, 99, 100)
    val got = Analytics.exactQuantilesBisect(df, "v", pcts, nBins = 4)
      .as[(Int, Long)].collect().toMap
    val sorted = vals.sorted
    val n = sorted.length
    for (p <- pcts) {
      val want = sorted((1L + (p.toLong * (n - 1)) / 100L).toInt - 1)
      assert(got(p) == want, s"pct $p")
    }
    // empty input: empty result, right schema
    val empty = Analytics.exactQuantilesBisect(
      spark.emptyDataset[Long].toDF("v"), "v", Seq(50))
    assert(empty.columns.toSeq == Seq("pct", "value") && empty.count() == 0)
    // singleton: every percentile is the one value
    val one = Analytics.exactQuantilesBisect(Seq(7L).toDF("v"), "v", Seq(0, 100))
      .as[(Int, Long)].collect().toMap
    assert(one == Map(0 -> 7L, 100 -> 7L))
    // nBins = 2 over the full range: the first bin width, 2^63, is capped
    // to a long
    val ends = Analytics.exactQuantilesBisect(
      Seq(Long.MinValue, 0L, Long.MaxValue).toDF("v"), "v", Seq(0, 50, 100), nBins = 2)
      .as[(Int, Long)].collect().toMap
    assert(ends == Map(0 -> Long.MinValue, 50 -> 0L, 100 -> Long.MaxValue))
  }

  test("applyJoinDelta: three delta terms equal the full rebuild") {
    import graft.operators.Temporal
    val a = Seq((1L, "a1"), (2L, "a2"), (3L, "a3")).toDF("k", "pa")
    val da = Seq((2L, "a2d"), (4L, "a4d")).toDF("k", "pa")
    val b = Seq((1L, "b1"), (2L, "b2"), (4L, "b4")).toDF("k", "pb")
    val db = Seq((1L, "b1d"), (3L, "b3d"), (4L, "b4d")).toDF("k", "pb")
    val view = a.join(b, "k")
    val got = Temporal.applyJoinDelta(view, a, b, da, db, "k")
      .as[(Long, String, String)].collect().sorted.toSeq
    val want = a.unionByName(da).join(b.unionByName(db), "k")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(got == want)
    assert(got.size > view.count(), "deltas must have added rows")
  }

  test("contributionAnalysis: exact decomposition, appear/disappear segments, ranks") {
    val rows = Seq( // (seg, v, period 0=before 1=after)
      ("a", 100L, 0), ("a", 150L, 1), // +50
      ("b", 200L, 0), ("b", 80L, 1), // -120
      ("c", 50L, 1), // appears: +50
      ("d", 30L, 0)) // disappears: -30
      .toDF("seg", "v", "p")
    val got = Analytics.contributionAnalysis(rows, "seg", "v",
        inBefore = col("p") === 0, inAfter = col("p") === 1)
      .as[(String, Long, Long, Long, Option[Double], Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a") == (("a", 100L, 150L, 50L, Some(-1.0), 2)))
    assert(got("b")._4 == -120L && got("b")._6 == 1)
    assert(got("c") == (("c", 0L, 50L, 50L, Some(-1.0), 3)))
    assert(got("d")._4 == -30L)
    // segment deltas sum to the total: 50 - 120 + 50 - 30 = -50; shares
    // then sum to 1 (each delta / -50)
    assert(got.values.map(_._4).sum == -50L)
    assert(math.abs(got.values.flatMap(_._5).sum - 1.0) < 1e-12)
  }

  test("booleanAnd: all-terms matching, absent term kills the query, case folds") {
    import graft.operators.Retrieval
    val docs = Seq((1L, "Fast Spark table"), (2L, "spark only"),
      (3L, "table spark spark")).toDF("doc_id", "text")
    val qs = Seq((1L, "spark"), (1L, "TABLE"), (2L, "spark"),
      (3L, "spark"), (3L, "missing")).toDF("query_id", "term")
    val got = Retrieval.booleanAnd(docs, "doc_id", "text", qs)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (1L, 3L), (2L, 1L), (2L, 2L), (2L, 3L)))
  }

  test("applyJoinDeltaSigned: deletes vanish, duplicate payloads carry multiplicity") {
    import graft.operators.Temporal
    val a = Seq((1L, "a1", 1L), (2L, "a2", 1L)).toDF("k", "pa", "m")
    val b = Seq((1L, "b1", 1L), (1L, "b1", 1L), (2L, "b2", 1L))
      .toDF("k", "pb", "m") // duplicate payload -> multiplicity 2
    val emptyView = Seq.empty[(Long, String, String, Long)]
      .toDF("k", "pa", "pb", "m")
    val view = Temporal.applyJoinDeltaSigned(
      emptyView, a.limit(0), b.limit(0), a, b, "k", "m")
    assert(view.as[(Long, String, String, Long)].collect().toSet ==
      Set((1L, "a1", "b1", 2L), (2L, "a2", "b2", 1L)))
    // delete one copy of (1, b1): multiplicity drops 2 -> 1; delete the
    // (2, b2) row entirely: the joined row must VANISH
    val db = Seq((1L, "b1", -1L), (2L, "b2", -1L)).toDF("k", "pb", "m")
    val after = Temporal.applyJoinDeltaSigned(view, a, b,
      a.limit(0), db, "k", "m")
    assert(after.as[(Long, String, String, Long)].collect().toSet ==
      Set((1L, "a1", "b1", 1L)))
  }

  test("slidingDistinct: hand windows over sparse days") {
    def day(s: String) = java.sql.Date.valueOf(s)
    val df = Seq(
      (1L, day("2024-01-01")), (2L, day("2024-01-01")),
      (1L, day("2024-01-05")), (3L, day("2024-01-05")),
      (1L, day("2024-01-20"))).toDF("k", "d")
    val got = Analytics.slidingDistinct(df, "d", "k", windowDays = 7)
      .as[(java.sql.Date, Long)].collect()
      .map(r => r._1.toString -> r._2).toMap
    // Jan 5 window [Dec 30, Jan 5] sees {1,2} from Jan 1 plus {1,3}
    assert(got == Map("2024-01-01" -> 2L, "2024-01-05" -> 3L,
      "2024-01-20" -> 1L))
  }

  test("ksStatistic: hand CDFs, identical samples give zero, shift detected") {
    import graft.operators.Temporal
    val x = Seq(1L, 2L, 3L, 4L).toDF("v")
    val y = Seq(3L, 4L, 5L, 6L).toDF("v")
    val r = Temporal.ksStatistic(x, y, "v")
      .as[(Long, Long, Long, Double)].collect().head
    // at v=2: cdf_x = 2/4, cdf_y = 0 -> D = 1/2 (numerator 2*4-0 = 8)
    assert(r == ((4L, 4L, 8L, 0.5)))
    val same = Temporal.ksStatistic(x, x, "v")
      .as[(Long, Long, Long, Double)].collect().head
    assert(same._3 == 0L && same._4 == 0.0)
  }

  test("randomizationTest: planted effect rejects, null effect doesn't, replayable") {
    import graft.functions.TextKernels
    // strong planted effect: arm A ~ 1000, arm B ~ 0 (600 rows each)
    val strong = (0L until 1200L).map(i =>
      (i, if (i % 2 == 0) "A" else "B", if (i % 2 == 0) 1000L else 0L))
      .toDF("id", "arm", "v")
    val rs = Analytics.randomizationTest(strong, "id", "arm", "v", "A", "B")
      .select("n_extreme", "p_value").as[(Long, Double)].collect().head
    assert(rs._1 == 0L && math.abs(rs._2 - 1.0 / 65.0) < 1e-15,
      s"planted effect should never be matched by a re-assignment: $rs")
    // pure noise: same value everywhere -> every permutation ties the
    // observed zero difference -> p = 1
    val flat = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) "A" else "B", 7L)).toDF("id", "arm", "v")
    val rf = Analytics.randomizationTest(flat, "id", "arm", "v", "A", "B")
      .select("p_value").as[Double].collect().head
    assert(rf == 1.0)
    // extremeness count equals a direct Scala replay of the same streams
    val small = (0L until 50L).map(i =>
      (i, if (i < 25) "A" else "B", i % 7)).toDF("id", "arm", "v")
    val got = Analytics.randomizationTest(small, "id", "arm", "v", "A", "B",
      nPerms = 16).select("n_extreme").as[Long].collect().head
    val rows = (0L until 50L).map(i => (i, i < 25, (i % 7)))
    val (sa, na) = (rows.filter(_._2).map(_._3).sum, 25L)
    val (sb, nb) = (rows.filterNot(_._2).map(_._3).sum, 25L)
    val dObs = (BigInt(sa) * nb - BigInt(sb) * na).abs
    val want = (1 to 16).count { i =>
      val as = rows.groupBy(r =>
        TextKernels.mix64(r._1 + i.toLong * 0x9e3779b97f4a7c15L) < 0)
      val (psa, pna) = (as.getOrElse(true, Nil).map(_._3).sum,
        as.getOrElse(true, Nil).size.toLong)
      val (psb, pnb) = (as.getOrElse(false, Nil).map(_._3).sum,
        as.getOrElse(false, Nil).size.toLong)
      pna == 0 || pnb == 0 ||
        (BigInt(psa) * pnb - BigInt(psb) * pna).abs * (BigInt(na) * nb) >=
          dObs * (BigInt(pna) * pnb)
    }
    assert(got == want.toLong)
  }

  test("weightedQuantilesBisect: equals the weighted-rank definition") {
    val rnd = new scala.util.Random(77)
    val rows = Seq.fill(800)((rnd.nextInt(1000).toLong - 500L,
      rnd.nextInt(20).toLong)) :+ ((9999L, 0L)) // zero weight never hosts
    val df = rows.toDF("v", "w").repartition(5)
    val pcts = Seq(0, 10, 50, 90, 100)
    val got = Analytics.weightedQuantilesBisect(df, "v", "w", pcts, nBins = 4)
      .as[(Int, Long)].collect().toMap
    val expanded = rows.filter(_._2 > 0).sortBy(_._1)
    val totW = expanded.map(_._2).sum
    for (p <- pcts) {
      val r = 1L + (p.toLong * (totW - 1)) / 100L
      var cum = 0L
      val want = expanded.collectFirst {
        case (v, w) if { cum += w; cum >= r } => v
      }.get
      assert(got(p) == want, s"pct $p")
    }
    assert(!got.values.toSet.contains(9999L), "zero-weight value chosen")
    // unit weights must equal the unweighted operator
    val uw = rows.filter(_._2 > 0).map(_._1).toDF("v").withColumn("w", lit(1L))
    val a = Analytics.weightedQuantilesBisect(uw, "v", "w", Seq(25, 75))
      .as[(Int, Long)].collect().toMap
    val b = Analytics.exactQuantilesBisect(uw.select("v"), "v", Seq(25, 75))
      .as[(Int, Long)].collect().toMap
    assert(a == b)
  }

  test("futureOutcomeLabels: strict exclusivity, horizon edge, no-outcome rows") {
    import graft.operators.Temporal
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val acts = Seq((1L, ts(0), 10L), (1L, ts(100), 11L), (2L, ts(0), 20L),
      (3L, ts(0), 30L)).toDF("u", "t", "id")
    val outs = Seq((1L, ts(0)), // same instant: NOT the future of act 10
      (1L, ts(130)), (2L, ts(30))).toDF("u", "t")
    val got = Temporal.futureOutcomeLabels(acts, outs, "u", "t", "id",
        horizonSeconds = 30L)
      .select("id", "label").as[(Long, Boolean)].collect().toMap
    assert(!got(10L), "same-ts outcome leaked into the label")
    assert(got(11L), "outcome exactly at horizon must count (inclusive)")
    assert(got(20L))
    assert(!got(30L), "no outcome at all")
  }

  test("benfordReport: hand counts, ppm shares, digits bounded") {
    import graft.operators.DataQuality
    val vals = Seq(123L, 19L, 1L, 250L, 2L, 999L, -5L, 0L).toDF("v")
    val got = DataQuality.benfordReport(vals, "v")
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1, 2, 9)) // negatives and zero excluded
    assert(got(1)._2 == 3 && got(2)._2 == 2 && got(9)._2 == 1)
    assert(got(1)._3 == 500000L) // 3 of 6
    assert(got(1)._4 == math.round(math.log10(2.0) * 1e6))
  }

  test("groupQuantilesBisect: equals the window-sort form on every group") {
    val rnd = new scala.util.Random(41)
    // uneven groups incl. a singleton, a duplicate-heavy group and one
    // spanning the whole long range
    val rows = Seq.tabulate(1200)(i =>
      (s"g${i % 5}", (rnd.nextInt(500) - 250).toLong)) ++
      Seq(("lone", 7L)) ++ Seq.fill(100)(("dups", 42L)) ++
      (Seq(Long.MinValue, Long.MinValue + 10, 3L, Long.MaxValue - 10, Long.MaxValue) ++
        Seq.fill(40)(rnd.nextLong())).map(("wide", _))
    val df = rows.toDF("k", "v").repartition(9)
    val pcts = Seq(0, 25, 50, 75, 100)
    val got = Analytics.groupQuantilesBisect(df, "k", "v", pcts, nBins = 4)
      .as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      for (p <- pcts) {
        val want = sorted((1L + (p.toLong * (sorted.length - 1)) / 100L).toInt - 1)
        assert(got((g, p)) == want, s"group $g pct $p")
      }
    }
    assert(got.size == 8 * pcts.length)
  }

  test("groupQuantilesBisect: 0.0 and -0.0 keys are one group, key type kept") {
    val rows = Seq((0.0, 1L), (-0.0, 5L), (-0.0, 9L), (1.5, 3L)).toDF("k", "v")
    val pcts = Seq(0, 50, 100)
    // + 0.0 maps -0.0 to 0.0: the window form returns the key of the row
    // it selects
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.as[(Double, Int, Long)].collect().map(r => (r._1 + 0.0, r._2, r._3)).toSet
    val got = keyed(Analytics.groupQuantilesBisect(rows, "k", "v", pcts))
    assert(got == keyed(Analytics.groupQuantiles(rows, "k", "v", pcts)))
    assert(got((0.0, 100, 9L)))
    val byInt = Analytics.groupQuantilesBisect(
      Seq((1, 4L), (1, 6L), (2, 8L)).toDF("k", "v"), "k", "v", Seq(50))
    assert(byInt.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    assert(byInt.as[(Int, Int, Long)].collect().toSet == Set((1, 50, 4L), (2, 50, 8L)))
  }

  test("groupQuantilesBisect: the NULL group is kept, as groupQuantiles keeps it") {
    val rows = Seq(("A", 10L), ("A", 20L), (null, 30L), (null, 40L)).toDF("k", "v")
    val pcts = Seq(50, 100)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Int, Long)].collect().toSet
    val got = keyed(Analytics.groupQuantilesBisect(rows, "k", "v", pcts))
    assert(got == keyed(Analytics.groupQuantiles(rows, "k", "v", pcts)))
    assert(got == Set(("A", 50, 10L), ("A", 100, 20L), (null, 50, 30L), (null, 100, 40L)))
  }

  test("sketchQuantilesBy: the NULL group of the sketch gets its quantiles") {
    import graft.operators.Sketch
    val rows = Seq(("A", 10L), ("A", 20L), (null, 30L), (null, 40L), (null, 50L))
      .toDF("k", "v")
    val sketch = Sketch.decimalQuantileSketchBy(rows, "k", "v")
    assert(sketch.where($"k".isNull).count() == 3)
    val got = Sketch.sketchQuantilesBy(sketch, "k", Seq(500L, 1000L))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(("A", 500L, 2L, 1L, 10L), ("A", 1000L, 2L, 2L, 20L),
      (null, 500L, 3L, 2L, 40L), (null, 1000L, 3L, 3L, 50L)))
  }

  /** `body` leaves the SQL cache and the persisted RDDs as it found them. */
  private def assertNoCacheLeft(what: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    // earlier tests' pins may be freed meanwhile: compare RDD ids, not counts
    val (entries, rdds) = (org.apache.spark.sql.SqlCacheEntries.count(spark),
      sc.getPersistentRDDs.keySet)
    body
    assert(org.apache.spark.sql.SqlCacheEntries.count(spark) == entries,
      s"$what left a SQL-cache entry")
    assert((sc.getPersistentRDDs.keySet -- rdds).isEmpty,
      s"$what left a persisted RDD")
  }

  test("quantile trio: the persisted frame is released on success and on a raise") {
    val df = Seq((1L, 2L), (5L, 1L), (9L, 3L)).toDF("v", "w")
    assertNoCacheLeft("exactQuantilesBisect") {
      Analytics.exactQuantilesBisect(df, "v", Seq(50)).collect()
    }
    assertNoCacheLeft("weightedQuantilesBisect") {
      Analytics.weightedQuantilesBisect(df, "v", "w", Seq(50)).collect()
    }
    assertNoCacheLeft("groupQuantilesBisect") {
      Analytics.groupQuantilesBisect(df, "w", "v", Seq(50)).collect()
    }
    assertNoCacheLeft("the negative-weight raise") {
      val e = intercept[Exception](Analytics.weightedQuantilesBisect(
        df.withColumn("w", col("w") - 2L), "v", "w", Seq(50)))
      assert(e.getMessage.contains("weightedQuantilesBisect: negative weight"))
    }
    assertNoCacheLeft("the group-count raise") {
      val e = intercept[IllegalArgumentException](Analytics.groupQuantilesBisect(
        spark.range((1L << 20) + 1).select(col("id").as("g"), col("id").as("v")),
        "g", "v", Seq(50)))
      assert(e.getMessage.contains("groupQuantilesBisect: more than 1048576 groups"))
    }
  }

  test("multiPassPairs: reversed-key pass catches what the name sort misses") {
    import graft.operators.Linkage
    // "xsmith" sorts far from "smith", but their REVERSALS are adjacent
    val rows = Seq((1L, "smith"), (2L, "xsmith"), (3L, "aaaa"), (4L, "bbbb"),
      (5L, "mmmm"), (6L, "zzzz")).toDF("id", "key")
    val df = rows.withColumn("rkey", reverse(col("key")))
    val got = Linkage.multiPassPairs(df, "id", Seq("key", "rkey"), w = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // w=2: only rank-adjacent pairs. Name order: aaaa bbbb mmmm smith
    // xsmith zzzz -> (1,2) adjacent there AND in reversed order
    // (htims/htimsx) -> 2 passes
    assert(got((1L, 2L)) == 2L)
    // canonical ordering: every pair appears once with id_lo < id_hi
    assert(got.keySet.forall { case (lo, hi) => lo < hi })
  }

  test("sortedNeighborhoodPairs: equals the rank-window definition, skew-safe") {
    import graft.operators.Linkage
    // rank order: key ASC NULLS FIRST, then id
    def check(rows: Seq[(Long, Option[String])], w: Int): Unit = {
      val df = rows.toDF("id", "key").repartition(7)
      val got = Linkage.sortedNeighborhoodPairs(df, "id", "key", w)
        .select("a_id", "b_id", "rank_dist")
        .as[(Long, Long, Long)].collect().toSet
      val ranked = rows.sortBy { case (id, k) => (k, id) }.zipWithIndex
      val want = (for {
        (a, ra) <- ranked; (b, rb) <- ranked
        if rb - ra > 0 && rb - ra < w
      } yield (a._1, b._1, (rb - ra).toLong)).toSet
      assert(got == want, rows.take(5))
      // every unordered pair once
      assert(got.map(p => (p._1, p._2)).size == got.size)
    }
    // skewed keys: many duplicates of one key value — ranks stay unique
    val rnd = new scala.util.Random(5)
    check(Seq.tabulate(200)(i =>
      (i.toLong, Some(if (i % 3 == 0) "dup" else s"k${rnd.nextInt(50)}"))), 4)
    // NULL and empty-string keys share the '' shard: NULLs rank first
    check(Seq.tabulate(60)(i => (i.toLong, i % 4 match {
      case 0 => None
      case 1 => Some("")
      case _ => Some(s"${('a' + i % 5).toChar}${rnd.nextInt(9)}")
    })), 3)
    // every key in one prefix shard
    check(Seq.tabulate(80)(i => (i.toLong, Some(s"same${rnd.nextInt(20)}"))), 5)
  }

  test("seasonalNaiveBacktest: perfect weekly cycle scores mase 0, lag gaps excluded") {
    // 10 exact weekly cycles then 3 test weeks: profile == value on every
    // test day -> sum_abs_err 0; seasonal-naive also exact -> mase NULL
    // (0/0 is refused, not 0); then perturb one test day
    val base = java.time.LocalDate.parse("2020-01-06") // a Monday
    def series(perturb: Boolean) = (0 until 91).map { i =>
      val day = java.sql.Date.valueOf(base.plusDays(i))
      val v = 100L + (i % 7) * 10L +
        (if (perturb && i == 80) 70L else 0L)
      (day, v)
    }.toDF("day", "v")
    val cutoff = base.plusDays(70).toString
    val clean = Analytics.seasonalNaiveBacktest(series(false), "day", "v", cutoff)
      .as[(Int, Long, Long, Long, Option[Double])].collect()
    assert(clean.length == 7)
    assert(clean.forall(r => r._3 == 0L && r._4 == 0L && r._5.isEmpty))
    val hit = Analytics.seasonalNaiveBacktest(series(true), "day", "v", cutoff)
      .as[(Int, Long, Long, Long, Option[Double])].collect()
      .filter(r => r._3 > 0 || r._4 > 0)
    // day 80 misses its profile by 70 and its lag-7 by 70; day 87 (same
    // dow, one week later) now also misses ITS lag by 70 -> mase = 1/2
    assert(hit.length == 1 && hit.head._3 == 70L && hit.head._4 == 140L)
    assert(math.abs(hit.head._5.get - 0.5) < 1e-15)
  }

  test("kaplanMeier: textbook risk sets, censoring, extinction goes NULL") {
    // durations: events at 2,2,4; censored at 3,5 -> risk sets 5 then 2
    // (the censored-at-3 subject leaves before t=4): S(2)=3/5,
    // S(4)=3/5 * 1/2
    val df = Seq((2L, true), (2L, true), (3L, false), (4L, true), (5L, false))
      .toDF("dur", "ev")
    val got = Analytics.kaplanMeier(df, "dur", "ev")
      .as[(Long, Long, Long, Option[Long])].collect().sortBy(_._1)
    assert(got.map(g => (g._1, g._2, g._3)).toSeq ==
      Seq((2L, 5L, 2L), (4L, 2L, 1L)))
    def micro(x: Double) = math.round(x * 1e6)
    assert(got(0)._4.get == micro(math.log(3.0 / 5.0)))
    assert(got(1)._4.get == micro(math.log(3.0 / 5.0)) +
      micro(math.log(1.0 / 2.0)))
    // extinction: last at-risk subject converts -> NULL from there on
    val ext = Seq((1L, true), (2L, true)).toDF("dur", "ev")
    val gotE = Analytics.kaplanMeier(ext, "dur", "ev")
      .as[(Long, Long, Long, Option[Long])].collect().sortBy(_._1)
    assert(gotE(0)._4.isDefined && gotE(1)._4.isEmpty)
  }

  test("cusumAlarms: closed form equals the textbook recurrence") {
    val rnd = new scala.util.Random(17)
    val xs = Seq.fill(500)(rnd.nextInt(100).toLong - 50L)
    val df = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) }
      .toDF("k", "i", "x").repartition(5)
    val got = Analytics.cusumAlarms(df, "k", Seq("i"), "x",
        target = lit(3L), threshold = lit(120L))
      .select("i", "cusum_hi", "cusum_lo", "alarm_hi", "alarm_lo")
      .as[(Long, Long, Long, Boolean, Boolean)].collect().sortBy(_._1)
    var (sHi, sLo) = (0L, 0L)
    xs.zipWithIndex.foreach { case (x, i) =>
      sHi = math.max(0L, sHi + (x - 3L))
      sLo = math.max(0L, sLo + (3L - x))
      assert(got(i)._2 == sHi && got(i)._3 == sLo, s"at $i")
      assert(got(i)._4 == (sHi >= 120L) && got(i)._5 == (sLo >= 120L))
    }
    // per-key isolation: a second key restarts from zero
    val two = (xs.zipWithIndex.map { case (x, i) => ("a", i.toLong, x) } ++
      Seq(("b", 0L, 1000L))).toDF("k", "i", "x")
    val b = Analytics.cusumAlarms(two, "k", Seq("i"), "x", lit(3L), lit(120L))
      .where(col("k") === "b").select("cusum_hi")
      .as[Long].collect().head
    assert(b == 997L)
  }

  test("welchTTest: textbook value, null on degenerate arms") {
    val a = Seq(27.5, 21.0, 19.0, 23.6, 17.0, 17.9, 16.9, 20.1, 21.9, 22.6,
      23.1, 19.6, 19.0, 21.7, 21.4)
    val b = Seq(27.1, 22.0, 20.8, 23.4, 23.4, 23.5, 25.8, 22.0, 24.8, 20.2,
      21.9, 22.1, 22.9, 30.5, 25.2)
    val df = (a.map(("m", "A", _)) ++ b.map(("m", "B", _)))
      .toDF("k", "arm", "v")
    val r = Analytics.welchTTest(df, "k", "arm", "v", "A", "B")
      .select("t_stat", "welch_df").as[(Double, Double)].collect().head
    // expected values computed independently (plain-Python moments):
    // t = -2.894164, df = 27.917241
    assert(math.abs(r._1 - -2.894164) < 1e-5, s"t was ${r._1}")
    assert(math.abs(r._2 - 27.917241) < 1e-5, s"df was ${r._2}")
    // one-row arm: no variance estimate, t and df must be NULL not Inf
    val tiny = Seq(("k", "A", 1.0), ("k", "B", 2.0), ("k", "B", 3.0))
      .toDF("k", "arm", "v")
    val rt = Analytics.welchTTest(tiny, "k", "arm", "v", "A", "B").collect().head
    assert(rt.isNullAt(rt.fieldIndex("t_stat")))
    assert(rt.isNullAt(rt.fieldIndex("welch_df")))
    // zero variance both arms: guard again (se2 = 0 is not evidence)
    val flat = Seq(("k", "A", 5.0), ("k", "A", 5.0), ("k", "B", 5.0),
      ("k", "B", 5.0)).toDF("k", "arm", "v")
    val rf = Analytics.welchTTest(flat, "k", "arm", "v", "A", "B").collect().head
    assert(rf.isNullAt(rf.fieldIndex("t_stat")))
  }

  test("kAnonymityReport: planted small class flagged, null quasi is a class") {
    import graft.operators.DataQuality
    val rows = Seq.tabulate(20)(i => (Option("FR"), "seg1", i.toLong)) ++ // diverse
      Seq.tabulate(5)(i => (Option("DE"), "seg1", 42L)) ++ // small + uniform
      Seq.tabulate(12)(_ => (Option.empty[String], "seg2", 7L)) // null quasi
    val df = rows.toDF("country", "segment", "salary")
    val got = DataQuality.kAnonymityReport(df, Seq("country", "segment"),
        "salary", k = 10, l = 3)
      .as[(Option[String], String, Long, Long, Boolean, Boolean)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    assert(got((Some("FR"), "seg1")) == ((20L, 20L, true, true)))
    assert(got((Some("DE"), "seg1")) == ((5L, 1L, false, false)))
    // nulls group together (conservative: "unknown" is still a class)
    assert(got((None, "seg2")) == ((12L, 1L, true, false)))
  }

  test("linearFit: exact line recovered; corr symmetric in sign") {
    // y = 2x + 1 exactly → corr 1, slope 2, intercept 1
    val df = (1 to 10).map(i => ("g", i.toDouble, 2.0 * i + 1))
      .toDF("k", "x", "y")
    val r = Analytics.linearFit(df, "k", "x", "y").collect().head
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12, "corr")
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-12, "slope")
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12, "intercept")
    val neg = (1 to 10).map(i => ("g", i.toDouble, -2.0 * i + 1))
      .toDF("k", "x", "y")
    val rn = Analytics.linearFit(neg, "k", "x", "y").collect().head
    assert(math.abs(rn.getDouble(2) + 1.0) < 1e-12, "anti-corr")
  }

  test("positionAttribution: 40/20/40 split, remainder by fractional part, edges") {
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    def run(conv: org.apache.spark.sql.DataFrame,
            touches: org.apache.spark.sql.DataFrame) =
      Analytics.positionAttribution(conv, touches, "user_id", "ts",
          "event_type", "rev_milli", convIdCol = "event_id",
          touchTieCol = "event_id", windowSeconds = 3600)
        .as[(String, Long, Long)].collect()
        .map { case (c, n, r) => c -> ((n, r)) }.toMap
    val touches4 = Seq(
      (1L, ts(1), "a", 10L), (1L, ts(2), "b", 11L),
      (1L, ts(3), "c", 12L), (1L, ts(4), "d", 13L))
      .toDF("user_id", "ts", "event_type", "event_id")
    // n=4, rev=1000: endpoints 40% = 400 each, middles 20%/2 = 100 each
    val even = run(Seq((1L, ts(30), 900L, 1000L))
      .toDF("user_id", "ts", "event_id", "rev_milli"), touches4)
    assert(even == Map("a" -> (1L, 400L), "b" -> (1L, 100L),
      "c" -> (1L, 100L), "d" -> (1L, 400L)))
    // n=3, rev=7: floors 2/1/2 (w=40/20/40 of 7), remainder 2 goes to the
    // two frac-80 endpoint touches (most recent first) -> 3/1/3
    val touches3 = Seq(
      (1L, ts(1), "a", 10L), (1L, ts(2), "b", 11L), (1L, ts(3), "c", 12L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val odd = run(Seq((1L, ts(30), 900L, 7L))
      .toDF("user_id", "ts", "event_id", "rev_milli"), touches3)
    assert(odd == Map("a" -> (1L, 3L), "b" -> (1L, 1L), "c" -> (1L, 3L)))
    assert(odd.values.map(_._2).sum == 7L)
    // n=2 splits 50/50, odd milli to the most recent; n=0 -> direct
    val two = run(Seq((1L, ts(30), 900L, 7L), (2L, ts(30), 901L, 5L))
        .toDF("user_id", "ts", "event_id", "rev_milli"),
      Seq((1L, ts(1), "a", 10L), (1L, ts(2), "b", 11L))
        .toDF("user_id", "ts", "event_type", "event_id"))
    assert(two == Map("a" -> (1L, 3L), "b" -> (1L, 4L), "direct" -> (1L, 5L)))
    // negative revenue: conserved with sign re-applied
    val neg3 = run(Seq((1L, ts(30), 900L, -7L))
      .toDF("user_id", "ts", "event_id", "rev_milli"), touches3)
    assert(neg3.values.map(_._2).sum == -7L)
    assert(neg3 == Map("a" -> (1L, -3L), "b" -> (1L, -1L), "c" -> (1L, -3L)))
  }

  test("giniCoefficient: hand values, zero for equality, NULL guards") {
    val df = (Seq(1L, 2L, 3L, 4L).map(("a", _)) ++ Seq(5L, 5L).map(("b", _))
      ++ Seq(("c", 7L)) ++ Seq(("d", -1L), ("d", 3L))).toDF("g", "v")
    val got = Analytics.giniCoefficient(df, "g", "v").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got("a") == ((4L, 10L, Some(0.25)))) // (2*30 - 5*10)/(4*10)
    assert(got("b") == ((2L, 10L, Some(0.0)))) // perfect equality
    assert(got("c") == ((1L, 7L, None)))       // singleton undefined
    assert(got("d")._3.isEmpty)                // negative value -> NULL
  }

  test("diffInDiffs: hand panel, control drift subtracted, NULL on empty cell") {
    // T: pre mean 10, post mean 25 (+15); C: pre 20, post 24 (+4) -> did 11
    val panel = Seq(
      (true, false, 8L), (true, false, 12L), (true, true, 25L),
      (false, false, 20L), (false, true, 24L)).toDF("t", "p", "v")
    val r = Analytics.diffInDiffs(panel, "t", "p", "v").collect().head
    assert(r.getLong(0) == 2L && r.getDouble(1) == 10.0)
    assert(r.getDouble(3) == 25.0 && r.getDouble(5) == 20.0)
    assert(r.getDouble(7) == 24.0)
    assert(math.abs(r.getDouble(8) - 11.0) < 1e-12)
    // an empty cell yields NULL effect, not a fabricated number
    val sparse = panel.where(!(col("t") && col("p")))
    assert(Analytics.diffInDiffs(sparse, "t", "p", "v").collect().head
      .isNullAt(8))
  }

  test("cupedAdjust: known covariate slope removed; zero-variance x -> NULL") {
    // y = 3x + arm effect: arm A units x=1,2 y=10,13; arm B x=3,4 y=20,23
    // pooled theta = cov/var = 3 exactly; adjusted means move each arm
    // to its intercept + 3*xbar_all (xbar_all = 2.5)
    val units = Seq(("A", 1L, 10L), ("A", 2L, 13L),
      ("B", 3L, 20L), ("B", 4L, 23L)).toDF("arm", "x", "y")
    val got = Analytics.cupedAdjust(units, "arm", "x", "y").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // theta: (4*159 - 10*66)/(4*30 - 100) = (636-660)/20 ... recompute:
    // sxy = 10+26+60+92 = 188; sx=10 sy=66 sxx=30
    // theta = (4*188 - 10*66)/(4*30 - 100) = (752-660)/20 = 4.6
    assert(math.abs(got("A")._4 - 4.6) < 1e-12)
    assert(got("A")._2 == 11.5 && got("B")._2 == 21.5)
    // adjusted: A: 11.5 - 4.6*(1.5-2.5) = 16.1; B: 21.5 - 4.6*(3.5-2.5)
    assert(math.abs(got("A")._3 - 16.1) < 1e-12)
    assert(math.abs(got("B")._3 - 16.9) < 1e-12)
    // constant covariate: theta NULL, adjusted NULL (no fabricated shift)
    val flat = Seq(("A", 5L, 10L), ("B", 5L, 20L)).toDF("arm", "x", "y")
    val g2 = Analytics.cupedAdjust(flat, "arm", "x", "y").collect()
    assert(g2.forall(_.isNullAt(4)))
  }

  test("copy-on-write: delete and merge rewrite only the hit files") {
    import graft.operators.CopyOnWrite
    val dir = graft.sources.Scratch.dir(spark, "cow", "spec")
    (1 to 1000).map(i => (i.toLong, i * 2L)).toDF("k", "v")
      .repartitionByRange(10, col("k")).write.mode("overwrite").parquet(dir)
    def snap() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    val before = snap()
    assert(before.size == 10)
    val del = CopyOnWrite.deleteWhere(spark, dir, col("k") <= 100, epoch = 1L)
      .as[(Long, Long, Long)].collect().head
    assert(del._1 == 10L && del._3 == 100L)
    assert(del._2 <= 2L && del._2 >= 1L) // range clustering prunes files
    val after = snap()
    // every non-hit file survives with its exact mtime — never reopened
    val kept = before.keySet.intersect(after.keySet)
    assert(kept.size.toLong == before.size - del._2)
    kept.foreach(n => assert(before(n) == after(n)))
    assert(spark.read.parquet(dir).where(col("k") <= 100).count() == 0)
    assert(spark.read.parquet(dir).count() == 900)
    // merge: two updates land in their file, two brand-new keys append
    val batch = Seq((200L, 999L), (201L, 998L), (5000L, 1L), (5001L, 2L))
      .toDF("k", "v")
    val before2 = snap()
    val mg = CopyOnWrite.mergeInto(spark, dir, batch, "k", epoch = 2L)
      .as[(Long, Long, Long, Long)].collect().head
    assert((mg._3, mg._4) == ((2L, 2L)))
    assert(mg._2 >= 1L && mg._2 <= 2L)
    val fin = spark.read.parquet(dir)
    assert(fin.where(col("k") === 200).select("v").as[Long].head() == 999L)
    assert(fin.where(col("k") === 5000).count() == 1)
    assert(fin.count() == 902)
    val after2 = snap()
    val kept2 = before2.keySet.intersect(after2.keySet)
    kept2.foreach(n => assert(before2(n) == after2(n)))
  }

  test("markovAttribution: exact removal effects, conserved credit") {
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    def run(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      Analytics.markovAttribution(
          rows.toDF("user_id", "ts", "event_id", "event_type", "value"),
          "user_id", "ts", "event_id", "event_type", "purchase",
          Seq("A", "B"), "cast(round(value * 1000) as bigint)")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // chain: S->A:2 S->B:2; A->CONV:1 A->NULL:1; B->NULL:2.
    // P(conv)=1/4; knocking out A kills every conversion path (RE=1),
    // knocking out B changes nothing (RE=0) — all credit to A
    val g1 = run(Seq(
      (1L, ts(1), 10L, "A", 0.0), (1L, ts(2), 11L, "purchase", 0.01),
      (2L, ts(1), 20L, "A", 0.0),
      (3L, ts(1), 30L, "B", 0.0),
      (4L, ts(1), 40L, "B", 0.0)))
    assert(g1 == Map("A" -> ((1000000L, 10L)), "B" -> ((0L, 0L))))
    // symmetric two-path chain: each channel's removal halves P(conv)
    // -> RE 1/2 each; 9 milli split 5/4 (remainder tie -> channel asc)
    val g2 = run(Seq(
      (1L, ts(1), 10L, "A", 0.0), (1L, ts(2), 11L, "purchase", 0.004),
      (2L, ts(1), 20L, "B", 0.0), (2L, ts(2), 21L, "purchase", 0.005)))
    assert(g2 == Map("A" -> ((500000L, 5L)), "B" -> ((500000L, 4L))))
    assert(g2.values.map(_._2).sum == 9L) // credit exactly conserved
  }

  test("theilSenSlope: outlier-immune median slope, exact on clean lines") {
    // 5 colinear points (slope 10) + one wild outlier: 15 pair slopes,
    // ten of them exactly 10 -> the median (8th) is 10, untouched
    val pts = Seq((0L, 0L), (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L),
      (5L, 2000L)).map { case (x, y) => ("g", x, y) }
      .toDF("g", "x", "y")
    val r = Analytics.theilSenSlope(pts, "g", "x", "y").collect().head
    assert(r.getLong(1) == 15L)
    assert(r.getDouble(2) == 10.0) // exact: (10+10)/2
    // least squares on the same data is dragged far off by the outlier
    val ls = Analytics.linearFit(
      pts.select(col("g"), col("x").cast("double").as("x"),
        col("y").cast("double").as("y")), "g", "x", "y").collect().head
    assert(ls.getDouble(3) > 100.0) // slope column
    // equal-x pairs are excluded, not divided by zero
    val dup = Seq(("g", 1L, 5L), ("g", 1L, 9L), ("g", 2L, 7L))
      .toDF("g", "x", "y")
    val r2 = Analytics.theilSenSlope(dup, "g", "x", "y").collect().head
    assert(r2.getLong(1) == 2L) // only the two x=1 -> x=2 pairs
  }

  test("autocorrelation: alternating series gives -(n-1)/n at lag 1") {
    val n = 6
    val df = (0 until n).map(t => (t.toLong, if (t % 2 == 0) 1L else -1L))
      .toDF("t", "x")
    val got = Analytics.autocorrelation(df, "t", "x", maxLag = 3)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // mean 0: c_t = n*x_t, r_k = Σ x_t x_{t+k} / Σ x_t² over n-k pairs
    assert(got(1)._1 == 5L && math.abs(got(1)._2 - (-5.0 / 6)) < 1e-12)
    assert(got(2)._1 == 4L && math.abs(got(2)._2 - (4.0 / 6)) < 1e-12)
    assert(got(3)._1 == 3L && math.abs(got(3)._2 - (-3.0 / 6)) < 1e-12)
  }

  test("hilbert walk: bijection + unit-step adjacency, tighter than morton") {
    // exhaustive 8x8 grid (bits=3): d must be a bijection onto 0..63 and
    // consecutive d cells must be 4-neighbors — THE hilbert property
    // (morton fails it at every power-of-two seam)
    val grid = (for { x <- 0 until 8; y <- 0 until 8 } yield (x, y))
      .toDF("x", "y")
    val walked = graft.operators.Layout
      .withHilbertValue(grid, col("x"), col("y"), "d", bitsPerDim = 3)
      .as[(Int, Int, Long)].collect().sortBy(_._3)
    assert(walked.map(_._3).toSeq == (0L until 64L))
    walked.sliding(2).foreach { case Array((x1, y1, _), (x2, y2, _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent step ($x1,$y1)->($x2,$y2)")
    }
    // locality: over 10-cell runs of a 32x32 grid (UNALIGNED with the
    // 4^k tiles, where morton's seam teleports show), the mean bounding
    // box area of hilbert runs is strictly tighter than morton's
    val big = (for { x <- 0 until 32; y <- 0 until 32 } yield (x, y))
      .toDF("x", "y")
    def meanBox(df: org.apache.spark.sql.DataFrame, c: String) = df
      .groupBy((col(c) / 10).cast("long").as("run"))
      .agg(((max("x") - min("x") + 1) * (max("y") - min("y") + 1)).as("a"))
      .agg(avg("a")).as[Double].collect().head
    val h = meanBox(graft.operators.Layout.withHilbertValue(
      big, col("x"), col("y"), "d", 5), "d")
    val m = meanBox(big.withColumn("z",
      graft.operators.Layout.zOrderValue(col("x"), col("y"), 5)), "z")
    assert(h < m, s"hilbert mean box $h !< morton $m")
  }

  test("compactSmallFiles: FFD caps groups, one file per group, content exact") {
    val src = graft.sources.Scratch.dir(spark, "compact", "spec_src")
    val dest = graft.sources.Scratch.dir(spark, "compact", "spec_dest")
    val df = (1 to 2000).map(i => (i.toLong, s"row-$i-padding-padding"))
      .toDF("k", "t")
    df.repartition(12, col("k")).write.mode("overwrite").parquet(src)
    val sizes = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length)
    assert(sizes.length == 12)
    val target = sizes.max * 3 // groups of ~3 files
    val manifest = graft.operators.Layout
      .compactSmallFiles(spark, src, dest, target)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    // plan covers every file; multi-file groups respect the cap
    assert(manifest.map(_._2).sum == 12L)
    assert(manifest.forall { case (_, n, b) => n == 1 || b <= target })
    assert(manifest.length < 12) // it actually compacted
    // exactly ONE parquet file per group directory, hash collisions or not
    manifest.foreach { case (g, _, _) =>
      val files = new java.io.File(s"$dest/compaction_group=$g")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"group $g has ${files.length} files")
    }
    // pure physical rewrite: nothing lost, nothing invented
    val back = spark.read.parquet(dest).select("k", "t")
      .as[(Long, String)].collect().toSet
    assert(back == df.as[(Long, String)].collect().toSet)
    // an oversized file gets its own group rather than blocking the pack
    val manifest2 = graft.operators.Layout
      .compactSmallFiles(spark, src,
        graft.sources.Scratch.dir(spark, "compact", "spec_dest2"),
        sizes.min / 2)
      .as[(Int, Long, Long)].collect()
    assert(manifest2.length == 12 && manifest2.forall(_._2 == 1L))
  }

  test("mannWhitneyU: hand-computed U and z, tie-exact doubled midranks") {
    // no ties: A=[1,2,3], B=[4,5,6] -> R_A=6, U_A=0, u2_a=0
    val clean = (Seq(1L, 2L, 3L).map(("a", _)) ++ Seq(4L, 5L, 6L).map(("b", _)))
      .toDF("arm", "v")
    val r1 = Analytics.mannWhitneyU(clean, "arm", "v", "a", "b").collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3)) ==
      ((3L, 3L, 0L, 0L)))
    // z = (0 - 9) / (2*sqrt(9*210/360)) = -1.96396...
    assert(math.abs(r1.getDouble(4) - (-1.9639610121239313)) < 1e-12)
    // ties: A=[1,1,2], B=[1,2,2] -> doubled midranks 4 and 10,
    // u2_a = 2*9 - 12 = 6, tie_term = 24+24 = 48, var = 4.05
    val tied = (Seq(1L, 1L, 2L).map(("a", _)) ++ Seq(1L, 2L, 2L).map(("b", _)))
      .toDF("arm", "v")
    val r2 = Analytics.mannWhitneyU(tied, "arm", "v", "a", "b").collect().head
    assert((r2.getLong(2), r2.getLong(3)) == ((6L, 48L)))
    assert(math.abs(r2.getDouble(4) - (-3.0 / (2.0 * math.sqrt(4.05)))) < 1e-12)
    // degenerate: all values equal -> zero variance -> NULL z
    val flat = Seq(("a", 5L), ("a", 5L), ("b", 5L)).toDF("arm", "v")
    assert(Analytics.mannWhitneyU(flat, "arm", "v", "a", "b")
      .collect().head.isNullAt(4))
  }

  test("hyperloglog: near-exact small range, <5% mid range, exact max-merge") {
    import graft.operators.Sketch
    // two groups: g1 has 3000 distinct ids, g2 has 500; ids overlap
    val df = ((1 to 3000).map(i => ("g1", i.toLong)) ++
      (2501 to 3000).map(i => ("g2", i.toLong))).toDF("g", "id")
    val regs = Sketch.hllRegisters(df, Seq("g"), "id", p = 12)
    val est = Sketch.hllEstimate(regs, Seq("g"), p = 12)
      .as[(String, Long, Long)].collect()
      .map { case (g, z, e) => g -> ((z, e)) }.toMap
    // p=12 linear-counting regime: both estimates within 5%
    assert(math.abs(est("g1")._2 - 3000L) <= 150, s"g1 est ${est("g1")}")
    assert(math.abs(est("g2")._2 - 500L) <= 25, s"g2 est ${est("g2")}")
    // merge = max over unioned register tables == sketch of the union
    val merged = Sketch.hllEstimate(
      regs.groupBy("register").agg(max("rho").as("rho"))
        .withColumn("g", lit("all")),
      Seq("g"), p = 12).as[(String, Long, Long)].collect().head
    val direct = Sketch.hllEstimate(
      Sketch.hllRegisters(
        df.select(lit("all").as("g"), col("id")), Seq("g"), "id", p = 12),
      Seq("g"), p = 12).as[(String, Long, Long)].collect().head
    assert(merged == direct) // mergeability is EXACT, not approximate
    assert(math.abs(merged._3 - 3000L) <= 150) // union is still 3000 ids
  }
}

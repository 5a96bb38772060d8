package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Contamination, FuzzyLookup, Guards,
  Materialize, Multimodal, Similarity, Sketch, Transformers}

/** Round-19 hardening specs — the r18 VERDICT tasks + ADVICE items.
  *
  *  - Basket-wedge guard (VERDICT "What's wrong #1"): coPurchaseTopK and
  *    associationRules self-join distinct (basket, item) on the basket
  *    key, Σ|basket|² pairs — one hot basket used to hang the join with
  *    no error anywhere. Dormant-on-healthy + planted-hot-basket raise +
  *    the maxBasketSize remedy are all spec'd here.
  *  - One-shot materializer routing (VERDICT "What's wrong #3"): every
  *    former bare `localCheckpoint()` pin now rides [[Materialize.round]]
  *    (or [[Materialize.lazyRound]] for the pure-cache pins) — the
  *    reliable lane must be bit-identical on one representative lane per
  *    routed file.
  *  - Re-gated ann05/dd11 (VERDICT task 6): the auto-sized knobs carry
  *    the gate; the old pinned knobs must RAISE via the degeneracy probe
  *    on a saturated fixture (the raise path the soak measured).
  *  - ADVICE items: longIdOrRaise double leg, kmvSetOps cache lifecycle,
  *    the unreleased-index fence reset, Checkpoint partitionBy escaping.
  */
class Round19Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  // ---- basket-wedge guard (VERDICT r18 "What's wrong #1") -----------------

  /** 20 healthy baskets of 3 items (Σm² = 180) + per-test hot options. */
  private def healthyBaskets: DataFrame =
    (1 to 20).flatMap(b => Seq((b.toLong, (b % 5).toLong),
      (b.toLong, (b % 5 + 10).toLong), (b.toLong, (b % 5 + 20).toLong)))
      .toDF("basket", "item")

  private def hotBasket(size: Int): DataFrame =
    (1 to size).map(i => (999L, i.toLong)).toDF("basket", "item")

  test("basket guard: dormant on healthy baskets (guarded == unguarded)") {
    val df = healthyBaskets
    val guarded = Analytics.coPurchaseTopK(df, "basket", "item", k = 2)
      .collect().map(_.toSeq).toSet
    val unguarded = Analytics.coPurchaseTopK(df, "basket", "item", k = 2,
      pairBound = -1L).collect().map(_.toSeq).toSet
    assert(guarded == unguarded && guarded.nonEmpty)
    val rules = Analytics.associationRules(df, "basket", "item",
      minSupport = 2L).collect().map(_.toSeq).toSet
    val rulesUn = Analytics.associationRules(df, "basket", "item",
      minSupport = 2L, pairBound = -1L).collect().map(_.toSeq).toSet
    assert(rules == rulesUn && rules.nonEmpty)
  }

  test("basket guard: hot basket raises by name in coPurchaseTopK") {
    val df = healthyBaskets.unionByName(hotBasket(40))
    val e = intercept[IllegalArgumentException] {
      Analytics.coPurchaseTopK(df, "basket", "item", k = 2, pairBound = 500L)
    }
    assert(e.getMessage.contains("coPurchaseTopK"))
    assert(e.getMessage.contains("maxBasketSize"))
    assert(e.getMessage.contains("pairBound=500"))
  }

  test("basket guard: hot basket raises by name in associationRules") {
    val df = healthyBaskets.unionByName(hotBasket(40))
    val e = intercept[IllegalArgumentException] {
      Analytics.associationRules(df, "basket", "item", minSupport = 2L,
        pairBound = 500L)
    }
    assert(e.getMessage.contains("associationRules"))
    assert(e.getMessage.contains("maxBasketSize"))
  }

  test("basket guard: corpus-wide amplification raises when many " +
    "moderately-hot baskets explode without any single hot key") {
    // 3 baskets x 1100 items: hottest wedge 1100² = 1.21e6 (under the
    // default 2^27 per-key bound) but the join emits 1100 rows per input
    // row — past the 1024x amplification bound
    val df = (1 to 3).flatMap(b => (1 to 1100).map(i =>
      (b.toLong, i.toLong))).toDF("basket", "item")
    val e = intercept[IllegalArgumentException] {
      Analytics.coPurchaseTopK(df, "basket", "item", k = 2)
    }
    assert(e.getMessage.contains("amplification"))
    assert(e.getMessage.contains("maxBasketSize"))
  }

  test("basket guard: maxBasketSize caps the hot basket deterministically " +
    "(highest-support items kept) and clears the raise") {
    // items 1..3 appear in 5 extra baskets each (support 6 with the hot
    // basket), items 4..40 only in the hot basket (support 1)
    val popular = (1 to 5).flatMap(b =>
      (1 to 3).map(i => ((100 + b).toLong, i.toLong))).toDF("basket", "item")
    val df = popular.unionByName(hotBasket(40))
    // uncapped Σm² >= 40² = 1600 > 500 — would raise (previous test);
    // capped at 3: hot basket keeps exactly the 3 highest-support items
    val out = Analytics.coPurchaseTopK(df, "basket", "item", k = 5,
      maxBasketSize = 3, pairBound = 500L)
    val hotItems = out.where(col("item").isin(1L, 2L, 3L))
      .select("item", "co_item").as[(Long, Long)].collect().toSet
    // the hot basket's surviving trio co-occurs; the dropped items 4..40
    // generate no pairs at all
    assert(hotItems == Set((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 2L)))
    assert(out.where(col("item") > 3L).count() == 0)
  }

  // ---- one-shot materializer routing: reliable-lane bit-identity --------
  // (VERDICT r18 "What's wrong #3" — one representative lane per routed
  // file; the iterative operators' parity lives in Round18Spec.)

  test("one-shot materializer sites: reliable lane bit-identical on one " +
    "representative lane per routed file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-r19")
    spark.conf.set(Materialize.ConfKey, "local")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val reliable = spark.newSession()
      reliable.conf.set(Materialize.ConfKey, "reliable")

      def lanes(s: SparkSession): Map[String, Set[Seq[Any]]] = {
        import s.implicits._
        val out = scala.collection.mutable.Map[String, Set[Seq[Any]]]()
        // FuzzyLookup.lookup — pinned-id frames, the pinned token index and
        // the fuzzy lane's pinned variant frames
        val left = Seq("bar", "fort worth").toDF("query")
        val right = Seq(("this is bar", 1), ("Fort Worth, TX", 2))
          .toDF("text", "v")
        out("fuzzy") = FuzzyLookup.lookup(left, "query", right, "text",
          FuzzyLookup.Options(maxLevDistance = 1))
          .select("query", "text", "v")
          .collect().map(_.toSeq).toSet
        // Transformers.lemmatize — the row-id pin of Elements.perRow
        val docs = Seq(Seq("Dogs", "running"), Seq("cats")).toDF("toks")
        val lex = Seq(("dogs", "dog"), ("running", "run"), ("cats", "cat"))
          .toDF("simplified", "lemma")
        out("lemmatize") = Transformers.lemmatize(docs, "toks", lex)
          .select("lemmas").collect().map(_.toSeq).toSet
        // Analytics.associationRules — basketItems' materialized frame
        val baskets = (1 to 10).flatMap(b =>
          Seq((b.toLong, 1L), (b.toLong, 2L), (b.toLong, (b % 3 + 3).toLong)))
          .toDF("basket", "item")
        out("rules") = Analytics.associationRules(baskets, "basket", "item",
          minSupport = 3L).collect().map(_.toSeq).toSet
        // Similarity.cosineNearDupPairs (LSH lane) — pinned signature frame
        val vecs = (1 to 30).map { i =>
          (i.toLong, Array.tabulate(8)(d =>
            if (d == i % 4) 1.0f else 0.01f * ((i + d) % 3)))
        }.toDF("id", "vec")
        out("lsh") = Similarity.cosineNearDupPairs(vecs, "id", "vec",
          minCosine = 0.9, dim = 8, exact = false, bitsPerTable = 4,
          nTables = 4, seed = 7L, portablePlanes = true)
          .select("id_a", "id_b").collect().map(_.toSeq).toSet
        // Multimodal.hashNearDupPairs — pinned hash frame
        val hashed = Seq((1L, 0x0FL), (2L, 0x0EL), (3L, -1L)).toDF("id", "h")
        out("mmhash") = Multimodal.hashNearDupPairs(hashed, "id", "h",
          maxHamming = 1).collect().map(_.toSeq).toSet
        // Sketch.kmvSetOps — eager pair-sketch materialization
        val groups = (1 to 200).map(i => (s"g${i % 3}", (i % 50).toLong))
          .toDF("g", "u")
        out("kmv") = Sketch.kmvSetOps(groups, "g", "u", k = 16)
          .collect().map(_.toSeq).toSet
        // Contamination.memorizationRisk — the lazyRound gram pin
        val corpus = Seq((1L, "the quick brown fox jumps"),
          (2L, "the quick brown fox sleeps"), (3L, "lorem ipsum dolor sit"))
          .toDF("doc_id", "text")
        out("memrisk") = Contamination.memorizationRisk(corpus, "doc_id",
          "text", n = 3).collect().map(_.toSeq).toSet
        out.toMap
      }

      val localRes = lanes(spark)
      val reliableRes = lanes(reliable)
      for ((k, v) <- localRes) {
        assert(v.nonEmpty, s"$k fixture produced no rows")
        assert(reliableRes(k) == v, s"$k differs between materializer lanes")
      }
      // the reliable lane really checkpointed
      val wrote = java.nio.file.Files.walk(dir).filter(p =>
        java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"reliable lane left no checkpoint files in $dir")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      spark.conf.unset(Materialize.ConfKey)
    }
  }

  test("no bare localCheckpoint sites remain outside Materialize") {
    // the greppable contract the verdict asked for, held by CI
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.toString.endsWith("Materialize.scala"))
      .filter { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        src.contains(".localCheckpoint(")
      }.map(_.toString).toList
    assert(offenders.isEmpty,
      s"bare localCheckpoint call sites outside Materialize: $offenders")
  }

  // ---- longIdOrRaise float/double leg (r18 ADVICE #1) --------------------

  test("longIdOrRaise: exactly-integral double ids past 2^53 are accepted") {
    val big = (1L << 60).toDouble // exactly representable
    val df = Seq(big, 42.0).toDF("id")
    val got = df.select(Guards.longIdOrRaise(df, "id", "t").as("v"))
      .as[Long].collect().toSet
    assert(got == Set(1L << 60, 42L))
  }

  test("longIdOrRaise: fractional and out-of-long-range doubles still " +
    "raise by name") {
    val frac = Seq(1.5).toDF("id")
    val e1 = intercept[Exception] {
      frac.select(Guards.longIdOrRaise(frac, "id", "t")).collect()
    }
    assert(e1.getMessage.contains("non-integral"))
    // 2^63 as a double casts to Long.MaxValue whose double view EQUALS
    // the input — the saturation the range bound exists to reject
    val sat = Seq(9.223372036854775808e18).toDF("id")
    val e2 = intercept[Exception] {
      sat.select(Guards.longIdOrRaise(sat, "id", "t")).collect()
    }
    assert(e2.getMessage.contains("non-integral") ||
      e2.getMessage.contains("non-numeric"))
  }

  // ---- kmvSetOps cache lifecycle (r18 ADVICE #3) -------------------------

  test("kmvSetOps leaves no SQL-cache entry behind") {
    val s2 = spark.newSession()
    import s2.implicits._
    // sharedState (and its CacheManager) is per-CONTEXT, not per-session,
    // so a bare isEmpty assertion fails whenever any other suite in the
    // same test JVM holds a live cache entry (the full-suite run does).
    // The contract under test is relative: kmvSetOps must not ADD a
    // surviving cache entry — snapshot the persistent-RDD ids before the
    // call and require the after-set is a subset (its hash-table cache,
    // once materialized by the probe and the pair join, registers an RDD
    // there; the call-exit unpersist must have removed it).
    val wasEmpty = s2.sharedState.cacheManager.isEmpty
    val before = s2.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 100).map(i => (s"g${i % 2}", i.toLong)).toDF("g", "id")
    val out = Sketch.kmvSetOps(df, "g", "id", k = 8)
    assert(out.count() == 1) // one unordered pair of two groups
    val leaked = s2.sparkContext.getPersistentRDDs.keySet -- before
    // exactly one survivor is the contract: the Materialize.round pin of
    // the pair-sized RESULT (its storage IS the return value — on the
    // auto/local lane localCheckpoint persists it). A second survivor
    // would be the data-sized hash table the r18 ADVICE flagged.
    assert(leaked.size <= 1,
      s"kmvSetOps left persistent RDD(s) $leaked behind — more than the " +
        "result pin, so the hash-table cache outlived the call")
    if (wasEmpty) assert(s2.sharedState.cacheManager.isEmpty,
      "kmvSetOps left its hash table in the SQL cache")
    val entries = org.apache.spark.sql.SqlCacheEntries.count(s2)
    intercept[IllegalArgumentException](
      Sketch.kmvSetOps(df, "g", "id", k = 8, maxGroups = 1))
    assert(org.apache.spark.sql.SqlCacheEntries.count(s2) == entries,
      "kmvSetOps' maxGroups raise left its hash table in the SQL cache")
  }

  // ---- pinned-knob raise paths (VERDICT r18 task 6) ----------------------

  test("pinned 4-bit LSH knob raises via the degenerate-bucket probe, " +
    "naming autoBits (the lane ann05 used to gate)") {
    val vecs = (1 to 400).map { i =>
      (i.toLong, Array.tabulate(8)(d => 0.9f + 0.001f * ((i + d) % 7)))
    }.toDF("id", "vec") // near-identical vectors: every row one bucket
    val e = intercept[Exception] {
      Similarity.cosineNearDupPairs(vecs, "id", "vec", minCosine = 0.99,
        dim = 8, exact = false, bitsPerTable = 4, nTables = 2, seed = 7L,
        portablePlanes = true, degenerateBucketBound = 64L).collect()
    }
    assert(e.getMessage.contains("autoBits"))
    assert(e.getMessage.contains("degenerate"))
  }

  test("pinned fixed-k centroid table raises via the probe, naming autoK " +
    "(the lane dd11 used to gate)") {
    val vecs = (1 to 300).map { i =>
      (i.toLong, "only", Array.tabulate(8)(d => 0.5f + 0.01f * ((i + d) % 5)))
    }.toDF("id", "label", "vec")
    val cent = Similarity.quantizedLabelCentroids(vecs, "vec", "label")
    val e = intercept[Exception] {
      Similarity.semanticDedup(vecs, "id", "vec", cent, minCosine = 0.99,
        degenerateBucketBound = 64L).collect()
    }
    assert(e.getMessage.contains("autoK"))
  }

  test("seededCentroids: deterministic singleton centroids, k-bounded") {
    val vecs = (1 to 50).map { i =>
      (i.toLong, Array.tabulate(4)(d => 0.1f * ((i + d) % 9)))
    }.toDF("id", "vec")
    val a = Similarity.seededCentroids(vecs, "id", "vec", k = 3)
      .collect().map(_.toSeq).toSet
    val b = Similarity.seededCentroids(vecs, "id", "vec", k = 3)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.size == 3 * 4 && a.forall(_.last == 1L))
    assert(a.map(_.head).size == 3, "expected exactly 3 seed labels")
    intercept[IllegalArgumentException] {
      Similarity.seededCentroids(vecs, "id", "vec", k = 0)
    }
    val e = intercept[IllegalArgumentException] {
      Similarity.seededCentroids(vecs, "id", "vec", k = (1 << 20) + 1)
    }
    assert(e.getMessage.contains("model-sized"))
  }

  // ---- Checkpoint partitionBy escaping (VERDICT r18 task 7) --------------

  test("checkpoint: partitionBy column with illegal chars round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-part")
    val df = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("my part=col", "v")
    val back = graft.sources.Checkpoint.checkpoint(df, dir.toString,
      partitionBy = Seq("my part=col"))
    assert(back.columns.toSet == Set("my part=col", "v"))
    assert(back.select(col("`my part=col`"), col("v")).as[(String, Long)]
      .collect().toSet == Set(("a", 1L), ("b", 2L), ("a", 3L)))
  }

  test("checkpoint: missing partitionBy column raises by name") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-miss")
    val df = Seq(("a", 1L)).toDF("c", "v")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Checkpoint.checkpoint(df, dir.toString,
        partitionBy = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
    assert(e.getMessage.contains("not present"))
  }

  // ---- fuzzy variant-frame persist parity (r18 ADVICE #2) ----------------

  test("fuzzy lane: probed and probe-disabled runs match bit for bit") {
    val left = Seq("fort wort", "bariq").toDF("query")
    val right = Seq("Fort Worth", "this is bar", "unrelated").toDF("text")
    def run(bound: Long) = FuzzyLookup.lookup(left, "query", right, "text",
      FuzzyLookup.Options(maxLevDistance = 1, candidateBound = bound))
      .select("query", "text").collect().map(_.toSeq).toSet
    assert(run(FuzzyLookup.CandidatePairBound) == run(-1L))
  }

  // ---- df-capped gram lane (r18 verdict "What's wrong #2" stretch) -------

  /** 2 near-dup docs built from RARE grams (df=2) + `hot` identical docs
    * whose every gram is corpus-cliché (df=hot). */
  private def gramCorpus(hot: Int): DataFrame =
    (Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")) ++
      (1 to hot).map(i =>
        (100L + i, "the quick brown fox jumps over the lazy dog")))
      .toDF("doc_id", "text")

  test("ngram df-capped lane: subset of exact, identical scores, misses " +
    "only the all-hot-gram pairs") {
    import graft.operators.Dedup
    val docs = gramCorpus(hot = 40) // N=42; ratio 0.5 -> capDf=21
    def pairs(ratio: Double) = Dedup.ngramJaccardPairs(docs, "text",
      "doc_id", n = 3, minJaccard = 0.5, maxGramDfRatio = ratio)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(0.0)
    val capped = pairs(0.5)
    assert(capped.subsetOf(exact), "capped lane emitted a non-exact pair")
    // the rare-gram pair survives the cap WITH its exact full-set score
    assert(capped.contains((1L, 2L, 1.0)))
    // the hot clique (df=40 > capDf=21 on every gram) is the disclosed
    // recall trade: present exactly, absent capped
    assert(exact.count(p => p._1 >= 100L) == 40 * 39 / 2)
    assert(capped.count(p => p._1 >= 100L) == 0)
  }

  test("ngram df-capped lane: passes the candidate guard where the exact " +
    "lane raises, and the volume probe sees the same cap") {
    import graft.operators.Dedup
    val docs = gramCorpus(hot = 40)
    // uncapped: 4 prefix grams x df~40 each -> ~6400 projected candidates
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
        minJaccard = 0.5, candidatePairBound = 500L).count()
    }
    assert(e.getMessage.contains("maxGramDfRatio"))
    assert(e.getMessage.contains("minHashLshPairs"))
    // capped: only the df-2 rare grams emit candidate keys -> volume ~12
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
      minJaccard = 0.5, candidatePairBound = 500L, maxGramDfRatio = 0.5)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // the public probe measures the SAME capped pipeline
    val vol = Dedup.ngramCandidateVolume(docs, "text", "doc_id", n = 3,
      minJaccard = 0.5, maxGramDfRatio = 0.5)
    assert(vol.compareTo(java.math.BigInteger.valueOf(500L)) <= 0)
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = {
      new Iterator[A] {
        def hasNext: Boolean = it.hasNext
        def next(): A = it.next()
      }
    }
  }
}

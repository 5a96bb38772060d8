package graft

import org.apache.spark.sql.{SparkSession, SqlCacheEntries}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, FuzzyLookup}
import graft.operators.FuzzyLookup.Options

/** Reference fixture parity for the fuzzy lookup join — FIXTURES.md §1,
  * mirroring /root/reference/mllib/src/test/scala/index/implicits.scala:44-199
  * (match identity asserted, never float scores). */
class FuzzyLookupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  test("1a: finds perfect match in text and gets a value") {
    val left = Seq("foo", "bar").toDF("query")
    val right = Seq(("this is bar", 99), ("I am out of here!", 99)).toDF("text", "val")
    val out = FuzzyLookup.lookup(left, "query", right, "text")
    val hits = out.where(col("text").isNotNull)
      .select("query", "text", "val").as[(String, String, Int)].collect().toSeq
    assert(hits == Seq(("bar", "this is bar", 99)))
    // left-outer: the no-match row survives null-padded
    assert(out.count() == 2)
    assert(out.where(col("text").isNull).select("query").as[String].collect().toSeq == Seq("foo"))
  }

  test("1b: minScore excludes low-score spam") {
    val left = Seq("Twitter", "Fort Worth").toDF("query")
    val right = Seq("Titter Khel", "I am out of here!", "Fort Worth, TX").toDF("text")
    val out = FuzzyLookup.lookup(left, "query", right, "text", Options(minScore = 1.0))
    val hits = out.where(col("text").isNotNull)
      .select("query", "text").as[(String, String)].collect().toSeq
    assert(hits == Seq(("Fort Worth", "Fort Worth, TX")))
  }

  test("1c: acronym boosting finds 2-letter acronyms") {
    val left = Seq("Fort Worth, TX", "Des Plaines, IL", "IL", "OH", "Columbus, OH")
      .toDF("query")
    val right = Seq("Illinois, IL", "Wœrth, FR", "Fort Worth, TX",
      "Des Plaines, US, IL", "Sainte-Anne-des-Plaines, CA", "Beau Bassin MU",
      "Ohio, OH, US", "Columbus, US, OH", "Columbus, NI").toDF("text")
    val out = FuzzyLookup.lookup(left, "query", right, "text",
      Options(boostAcronyms = true))
    val hits = out.where(col("text").isNotNull)
      .select("query", "text").as[(String, String)].collect().toMap
    assert(hits == Map(
      "Fort Worth, TX" -> "Fort Worth, TX",
      "Des Plaines, IL" -> "Des Plaines, US, IL",
      "IL" -> "Illinois, IL",
      "OH" -> "Ohio, OH, US",
      "Columbus, OH" -> "Columbus, US, OH"))
  }

  test("1d: ngram strategy locates the best matching subspan") {
    val left = Seq("In South east of CA lies the beauty of Glasgow in Scotland England")
      .toDF("query")
    val right = Seq("Wœrth, FR", "Sainte-Anne-des-Plaines, CA", "Cardiff",
      "South Wales Valley", "New Glasgow, Californien CA",
      "North west Glasgow GB Scotland", "Glasgow South France").toDF("text")
    val out = FuzzyLookup.lookup(left, "query", right, "text",
      Options(strategy = "ngram", nNgrams = 3))
    val hits = out.where(col("text").isNotNull)
      .select("query", "text").as[(String, String)].collect().toSeq
    assert(hits == Seq(("In South east of CA lies the beauty of Glasgow in Scotland England",
      "North west Glasgow GB Scotland")))
    // the reported span must cover "Glasgow in Scotland" (chars of the match)
    val (s, e) = out.where(col("text").isNotNull)
      .select("_startIndex_", "_endIndex_").as[(Int, Int)].collect().head
    val span = left.as[String].collect().head.substring(s, e)
    assert(span.contains("Glasgow") && span.contains("Scotland"))
  }

  test("1e: ngram strategy picks the globally best cluster where greedy expansion stops at its seed") {
    // idf design: aa/bb/cc appear in 6 of 10 right docs (weak, idf=ln(1+10/6)
    // ~0.98); zz only in the target (strong, idf=ln(11) ~2.40). The query
    // matches the target at positions {0,1,2} (sum 2.94) and {7} (2.40),
    // separated by a gap > nNgrams. The reference's greedy expansion
    // (NgramStrategy.scala:113-195) seeds at the best single n-gram — zz,
    // since any 2-gram of weak tokens sums to 1.96 < 2.40 — and cannot cross
    // the unmatched gap, returning the zz span. The cluster formulation
    // compares ALL gap-bounded clusters and returns the higher-scoring weak
    // triple. This pins the deliberate divergence (see FuzzyLookup scaladoc).
    val fillers = (1 to 5).map(i => s"aa bb cc f${i}a f${i}b f${i}c f${i}d f${i}e")
    val right = (Seq("aa bb cc zz") ++ fillers).toDF("text")
    val left = Seq("aa bb cc x1 x2 x3 x4 zz").toDF("query")
    val out = FuzzyLookup.lookup(left, "query", right, "text",
      Options(strategy = "ngram", nNgrams = 2))
      .where(col("text").isNotNull)
      .select("text", "_startIndex_", "_endIndex_", "_tags_")
      .as[(String, Int, Int, Seq[String])].collect().toSeq
    assert(out.length == 1)
    val (text, s, e, tags) = out.head
    assert(text == "aa bb cc zz")
    // the winning cluster is the weak triple (chars 0..8), NOT zz (21..23)
    assert((s, e) == (0, 8), s"span was [$s,$e)")
    assert(tags == Seq("aa", "bb", "cc"), s"tags were $tags")
  }

  test("matched _tags_ carry the matched query terms; multi/array variants include them") {
    val left = Seq("the Fort Worth city").toDF("query")
    val right = Seq(("Fort Worth, TX", 1), ("Miami, FL", 2)).toDF("text", "id")
    val out = FuzzyLookup.lookup(left, "query", right, "text")
      .where(col("text").isNotNull)
    val tags = out.select("_tags_").as[Seq[String]].collect().head
    // reference semantics (IndexStrategy.scala:170): _tags_ = the matched
    // span's terms in query order
    assert(tags == Seq("fort", "worth"), s"tags were $tags")
    val multi = FuzzyLookup.lookupMulti(left, Seq("query"), right, "text")
    val mt = multi.select("query_res._tags_").as[Seq[String]].collect().head
    assert(mt == Seq("fort", "worth"))
  }

  test("tieBreakCol: chosen match is identical across right-side partition layouts") {
    // two right rows with IDENTICAL text tie exactly; with tieBreakCol the
    // winner must be the lower id regardless of how the right side is laid
    // out (the internal row-id tie-break is partition-dependent)
    val left = Seq("alpha beta").toDF("query")
    val right = Seq((7, "alpha beta"), (3, "alpha beta"), (9, "unrelated words"))
      .toDF("id", "text")
    Seq(right, right.repartition(13), right.repartition(1).orderBy(col("id").desc))
      .foreach { r =>
        val hit = FuzzyLookup.lookup(left, "query", r, "text",
          Options(tieBreakCol = Some("id")))
          .where(col("text").isNotNull).select("id").as[Int].collect().toSeq
        assert(hit == Seq(3), s"tie went to $hit under a different layout")
      }
  }

  test("the score folds its weights in query-position order, both strategies") {
    // "alpha" is in both right rows (idf ln 2), "beta" and "gamma" only in
    // row 2 (idf ln 3 ≈ 1.1 each); the weight puts alpha's term near 2.8e16,
    // where a double's ulp is 4. In qpos order row 2 scores
    // ((0 + A) + b) + b = A, exactly row 1's A, so the tie-break picks
    // row 1; any order that adds the two small terms first gives A + 4 and
    // row 2 would win. Both rows have three tokens, so the length norm is
    // the same.
    val left = Seq("alpha beta gamma").toDF("query")
    val right = Seq((1, "alpha delta epsilon"), (2, "alpha beta gamma")).toDF("id", "text")
    val weights = Map("alpha" -> 4e16, "beta" -> 1.0, "gamma" -> 1.0)
    for (strategy <- Seq("standard", "ngram")) {
      val hit = FuzzyLookup.lookup(left, "query", right, "text",
        Options(strategy = strategy, termWeights = weights, tieBreakCol = Some("id")))
        .select("id").as[Int].collect().toSeq
      assert(hit == Seq(1), s"$strategy chose $hit")
    }
  }

  test("an fz01-shaped lookup scores behind one exchange, with no object " +
    "aggregate or array fold") {
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val catalog = (1 to 40).map(i => (i.toLong, s"brand${i % 5} type${i % 7} name$i"))
      .toDF("p_partkey", "part_text")
    val needles = (0 until 5).flatMap(b => (0 until 7).map(t => s"brand$b type$t"))
      .toDF("needle")
    val out = FuzzyLookup.lookup(needles, "needle", catalog, "part_text",
      Options(maxDfRatio = 0.5, tieBreakCol = Some("p_partkey")))
      .select("needle", "p_partkey")
    out.collect()
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    // the nodes from p down to the candidate join's observed output
    def pathToCandidates(p: SparkPlan): Option[Seq[SparkPlan]] =
      if (p.nodeName == "CollectMetrics") Some(Seq(p))
      else kids(p).view.flatMap(pathToCandidates).headOption.map(p +: _)
    val topK = nodes(out.queryExecution.executedPlan).collectFirst {
      case f: FilterExec if f.condition.references.exists(_.name == "_rank_") => f
    }.getOrElse(fail("no top-K filter in the plan"))
    val path = pathToCandidates(topK).getOrElse(fail("no candidate join below top-K"))
    assert(path.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
      path.map(_.nodeName).mkString(" <- "))
    assert(!path.exists(p => p.isInstanceOf[ObjectHashAggregateExec] ||
      p.isInstanceOf[SortAggregateExec]), path.map(_.nodeName).mkString(" <- "))
    assert(!path.exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayAggregate]))))
  }

  test("fuzzy: maxLevDistance=1 matches typos via deletion variants") {
    val left = Seq("Glasgw", "Edinburgh").toDF("query")
    val right = Seq(("Glasgow", 1), ("London", 2)).toDF("text", "id")
    val out = FuzzyLookup.lookup(left, "query", right, "text", Options(maxLevDistance = 1))
    val hits = out.where(col("text").isNotNull)
      .select("query", "text").as[(String, String)].collect().toSeq
    assert(hits == Seq(("Glasgw", "Glasgow")))
  }

  test("popularity column boosts the score multiplicatively") {
    val left = Seq("springfield").toDF("query")
    val right = Seq(("Springfield", 1.0), ("Springfield", 30.0)).toDF("text", "pop")
    val out = FuzzyLookup.lookup(left, "query", right, "text",
      Options(popularityCol = Some("pop")))
    val hit = out.where(col("text").isNotNull).select("pop").as[Double].collect().toSeq
    assert(hit == Seq(30.0))
  }

  test("multi-query lookup returns {q}_res struct columns") {
    val left = Seq(("bar", "out")).toDF("q1", "q2")
    val right = Seq(("this is bar", 99), ("I am out of here!", 7)).toDF("text", "val")
    val out = FuzzyLookup.lookupMulti(left, Seq("q1", "q2"), right, "text")
    val row = out.select(col("q1_res.val"), col("q2_res.val")).as[(Int, Int)].collect().head
    assert(row == ((99, 7)))
  }

  test("structured equality filter changes the chosen match") {
    // both right rows match the text equally; the country filter decides
    // (reference IndexStrategy.scala:96-107 equality pushdown)
    val left = Seq(("springfield", "US"), ("springfield", "FR"))
      .toDF("query", "country")
    val right = Seq(("springfield", "US", 1), ("springfield", "FR", 2))
      .toDF("text", "ctry", "id")
    val unfiltered = FuzzyLookup.lookup(left, "query", right, "text")
      .select("country", "id").as[(String, Int)].collect().toMap
    // without the filter both left rows get the same (tie-broken) match
    assert(unfiltered("US") == unfiltered("FR"))
    val filtered = FuzzyLookup.lookup(left, "query", right, "text",
      Options(filterCols = Seq("country" -> "ctry")))
      .select("country", "id").as[(String, Int)].collect().toMap
    assert(filtered == Map("US" -> 1, "FR" -> 2))
  }

  test("array-query lookup resolves every element in order") {
    val left = Seq((1, Seq("bar", "out", "zzz"))).toDF("id", "queries")
    val right = Seq(("this is bar", 99), ("I am out of here!", 7)).toDF("text", "val")
    val out = FuzzyLookup.lookupArray(left, "queries", right, "text")
    val res = out.select(col("queries_res.val")).as[Seq[Option[Int]]].collect().head
    assert(res == Seq(Some(99), Some(7), None))
  }

  // ---- caller column names ---------------------------------------------

  test("lookupMulti: left frame already owning _mq_ gets a fresh scratch column") {
    val left = Seq(("alpha", "x1"), ("beta", "x2"))
      .toDF("q1", "_mq_") // hostile: the old hard-coded scratch name
    val right = Seq("alpha", "beta", "gamma").toDF("name")
    val out = FuzzyLookup.lookupMulti(left, Seq("q1"), right, "name")
    val rows = out.select(col("q1"), col("_mq_"), col("q1_res.name"))
      .as[(String, String, String)].collect()
      .map { case (q, m, r) => q -> ((m, r)) }.toMap
    assert(rows("alpha") == ("x1", "alpha")) // user column untouched
    assert(rows("beta") == ("x2", "beta"))
  }

  test("lookupMulti: topK>1 is rejected with the documented contract error") {
    val left = Seq(Tuple1("alpha")).toDF("q1")
    val right = Seq("alpha").toDF("name")
    val ex = intercept[IllegalArgumentException] {
      FuzzyLookup.lookupMulti(left, Seq("q1"), right, "name",
        Options(topK = 3))
    }
    assert(ex.getMessage.contains("topK"))
  }

  test("lookupMulti rejects a pre-existing `{q}_res` twin") {
    val right = Seq(("alpha", 1)).toDF("txt", "rid")
    val bad = Seq(("alpha", "stale")).toDF("q1", "q1_res")
    val e = intercept[IllegalArgumentException] {
      FuzzyLookup.lookupMulti(bad, Seq("q1"), right, "txt")
    }
    assert(e.getMessage.contains("q1_res"))
  }

  // ---- cached state and driver actions ---------------------------------

  /** SQL-cache entries that `run` leaves behind. */
  private def cacheEntriesAdded(run: => Any): Int = {
    val before = SqlCacheEntries.count(spark)
    run
    SqlCacheEntries.count(spark) - before
  }

  private def gazetteer = (Seq("bar", "fort wroth", "nothing").toDF("query"),
    Seq(("this is bar", 1), ("Fort Worth, TX", 2)).toDF("text", "v"))

  private def admission = (
    Seq((10L, "x y z w v u t s"), (11L, "zz yy xx ww vv uu")).toDF("doc_id", "text"),
    Seq((1L, "x y z w v u t s"), (2L, "x y z w v u t s"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text"))

  test("exact and probed fuzzy lanes leave no SQL-cache entry") {
    val (left, right) = gazetteer
    val added = Seq(Options(), Options(maxLevDistance = 1)).map(o =>
      cacheEntriesAdded(
        FuzzyLookup.lookup(left, "query", right, "text", o).count()))
    assert(added == Seq(0, 0))
  }

  test("the fuzzy lane's variant-volume raise leaves no SQL-cache entry") {
    val left = (1 to 30).map(i => s"corea q$i").toDF("q")
    val right = (1 to 30).map(i => s"coreb r$i").toDF("text")
    val added = cacheEntriesAdded {
      val e = intercept[IllegalArgumentException] {
        FuzzyLookup.lookup(left, "q", right, "text",
          Options(maxLevDistance = 1, candidateBound = 100L))
      }
      assert(e.getMessage.contains("FUZZY candidate volume"))
    }
    assert(added == 0)
  }

  test("minHashLshNewVsCorpus and ngramJaccardPairs leave no SQL-cache entry") {
    val (batch, corpus) = admission
    val added = Seq(
      cacheEntriesAdded(Dedup.minHashLshNewVsCorpus(
        batch, corpus, "text", "doc_id", minEstJaccard = 0.9).count()),
      cacheEntriesAdded(Dedup.ngramJaccardPairs(
        corpus, "text", "doc_id").count()))
    assert(added == Seq(0, 0))
  }

  test("driver actions while building: lookup 3 (exact) and 4 (probed " +
    "fuzzy), minHashLshNewVsCorpus 1, ngramJaccardPairs 2") {
    val (left, right) = gazetteer
    val (batch, corpus) = admission
    def actions(build: => Any) = DriverActions.during(spark)(build)
    val got = Seq(
      "exact" -> actions(FuzzyLookup.lookup(left, "query", right, "text")),
      "fuzzy" -> actions(FuzzyLookup.lookup(left, "query", right, "text",
        Options(maxLevDistance = 1))),
      "newVsCorpus" -> actions(Dedup.minHashLshNewVsCorpus(
        batch, corpus, "text", "doc_id")),
      "ngram" -> actions(Dedup.ngramJaccardPairs(corpus, "text", "doc_id")))
    // ngramJaccardPairs pins its gram table, which sits behind two
    // exchanges: pinning runs them as an action of its own, ahead of the
    // volume probe that would otherwise run them
    assert(got == Seq("exact" -> 3, "fuzzy" -> 4, "newVsCorpus" -> 1,
      "ngram" -> 2))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Dedup, Graph, Guards, Packing,
  Similarity, Transformers}

/** Round-17 wave: the LSH-family scale guards graduate from scaladoc to
  * code. Every degenerate-bucket path (minhash bands, simhash pigeonhole
  * blocks, sign-LSH tables, SemDeDup clusters) now probes bucket
  * occupancy eagerly and raises BY NAME above
  * [[Guards.DegenerateBucketBound]] — the round-16 sf1 soak measured
  * these operators 164.8x/36x/15x-quadratic at default knobs with only a
  * comment standing guard. Plus the autoBits/autoK sizing helpers, the
  * jaccardLinkPrediction uncapped-hub probe (r16 ADVICE #1), and the
  * guard's dormancy on healthy data (default outputs unchanged). */
class Round17Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  // vectors that all collide: identical embeddings share every LSH
  // bucket in every table, the worst-case degenerate corpus
  private def identicalEmbeddings(n: Int) =
    spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 8), i -> cast(0.5 as float))")
        .as("embedding"))

  // ---- minHashLshPairs: degenerate-bucket probe (raise cases: GuardsSpec)

  test("minHashLshPairs stays dormant on healthy data (output unchanged)") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "totally different words entirely here now")
    ).toDF("id", "text")
    val pairs = Dedup.minHashLshPairs(df, "text", "id",
      shingleSize = 2, minEstJaccard = 0.2)
    // near-dup docs 1-2 found; the probe never fired
    assert(pairs.where(col("id_a") === 1 && col("id_b") === 2).count() === 1L)
  }

  // ---- simHashPairs: degenerate-bucket probe (raise case: GuardsSpec) ---

  test("simHashPairs capped below the bound skips the probe") {
    val df = spark.range(30).select(col("id"),
      lit("identical template text").as("text"))
    val got = Dedup.simHashPairs(df, "text", "id",
      maxBucketSize = 10, degenerateBucketBound = 10L)
    assert(got.count() === 0L)
  }

  // ---- minHashLshNewVsCorpus: per-side probes ---------------------------

  test("minHashLshNewVsCorpus raises naming the degenerate side") {
    val batch = Seq((1L, "one fresh document")).toDF("id", "text")
    val corpus = spark.range(30).select((col("id") + 100).as("id"),
      lit("the same boilerplate text repeated verbatim").as("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashLshNewVsCorpus(batch, corpus, "text", "id",
        degenerateBucketBound = 10L)
    }
    assert(e.getMessage.contains("corpus side"))
  }

  // ---- cosineNearDupPairs (LSH lane): degenerate-bucket probe -----------

  test("cosineNearDupPairs(exact=false) raises pointing at autoBits") {
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(identicalEmbeddings(30), "vec_id",
        "embedding", minCosine = 0.9, dim = 8, exact = false,
        bitsPerTable = 4, nTables = 2, degenerateBucketBound = 10L)
    }
    assert(e.getMessage.contains("cosineNearDupPairs"))
    assert(e.getMessage.contains("autoBits"))
  }

  test("cosineNearDupPairs(exact=false) dormant on healthy data") {
    // distinct random-ish embeddings spread across buckets
    val df = spark.range(40).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 8), i -> cast(sin(id * i + i) as float))")
        .as("embedding"))
    val got = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
      minCosine = 0.99, dim = 8, exact = false, bitsPerTable = 2,
      nTables = 2, degenerateBucketBound = 30L)
    assert(got.count() >= 0L) // plan executes, no raise
  }

  // ---- semanticDedup: degenerate-cluster probe --------------------------

  test("semanticDedup raises pointing at autoK when a cluster degenerates") {
    val emb = identicalEmbeddings(30).withColumn("label", lit(0))
    val cent = Similarity.quantizedLabelCentroids(emb, "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(emb, "vec_id", "embedding", cent,
        minCosine = 0.9, degenerateBucketBound = 10L)
    }
    assert(e.getMessage.contains("semanticDedup"))
    assert(e.getMessage.contains("autoK"))
  }

  test("semanticDedup dormant below the bound (output intact)") {
    val emb = identicalEmbeddings(5).withColumn("label", lit(0))
    val cent = Similarity.quantizedLabelCentroids(emb, "embedding", "label")
    val got = Similarity.semanticDedup(emb, "vec_id", "embedding", cent,
      minCosine = 0.9, degenerateBucketBound = 10L)
    // 5 identical vectors: one component, min-id keeps
    assert(got.where(col("keep")).count() === 1L)
    assert(got.count() === 5L)
  }

  // ---- autoBits / autoK: sizing-helper contracts ------------------------

  test("autoBits is monotone in n, anti-monotone in targetBucket, clamped") {
    // non-decreasing in n
    val ns = Seq(1L, 64L, 1000L, 20000L, 1000000L, 1L << 40)
    val bits = ns.map(Similarity.autoBits(_))
    assert(bits === bits.sorted)
    // non-increasing in targetBucket
    val tbs = Seq(16L, 64L, 1024L, 65536L)
    val byTb = tbs.map(tb => Similarity.autoBits(1000000L, tb))
    assert(byTb === byTb.sorted.reverse)
    // soak anchor: 20k vectors at the default target lands adjacent to
    // the measured sweep's best (bits 10 = 13 s vs bits 4 = 385 s)
    assert(Similarity.autoBits(20000L) === 9)
    // clamps
    assert(Similarity.autoBits(0L) === 2)
    assert(Similarity.autoBits(Long.MaxValue, 1L) === 30)
    intercept[IllegalArgumentException](Similarity.autoBits(-1L))
    intercept[IllegalArgumentException](Similarity.autoBits(10L, 0L))
  }

  test("autoK is monotone in n and keeps cluster occupancy constant") {
    val ns = Seq(0L, 1000L, 100000L, 10000000L)
    val ks = ns.map(Similarity.autoK(_))
    assert(ks === ks.sorted)
    assert(Similarity.autoK(0L) === 1)
    assert(Similarity.autoK(1024L, 1024L) === 1)
    assert(Similarity.autoK(1025L, 1024L) === 2)
    // occupancy n/k stays <= targetClusterSize
    Seq(1000L, 123456L, 10000000L).foreach { n =>
      val k = Similarity.autoK(n, 512L)
      assert(n.toDouble / k <= 512.0)
    }
    intercept[IllegalArgumentException](Similarity.autoK(-1L))
  }

  // ---- single-task lanes: self-defending row bounds ----------------------

  test("packSequences raises by name past the single-task row bound") {
    val big = spark.range(Guards.SingleTaskRowBound + 1)
      .select(col("id"), lit(10L).as("tokens"))
    val e = intercept[IllegalArgumentException] {
      Packing.packSequences(big, "id", "tokens", seqLen = 2048)
    }
    assert(e.getMessage.contains("packSequences"))
    assert(e.getMessage.contains("packSequencesSharded"))
  }

  test("addIdSequential raises by name past the single-task row bound") {
    val big = spark.range(Guards.SingleTaskRowBound + 1).toDF("v")
    val e = intercept[IllegalArgumentException] {
      Transformers.addIdSequential(big, "v")
    }
    assert(e.getMessage.contains("addIdSequential"))
    assert(e.getMessage.contains("addIdUnordered"))
  }

  test("movingAverage(Nil) raises past the bound; partitioned lane never probes") {
    val big = spark.range(Guards.SingleTaskRowBound + 1)
      .select(col("id"), (col("id") % 7).cast("double").as("v"))
    val e = intercept[IllegalArgumentException] {
      Analytics.movingAverage(big, Nil, "id", "v", nRows = 3)
    }
    assert(e.getMessage.contains("movingAverage"))
    assert(e.getMessage.contains("partition"))
    // the partitioned lane is parallel by construction — no probe, plan
    // builds lazily even on the same oversized input
    val ok = Analytics.movingAverage(
      big.withColumn("series", col("id") % 4), Seq("series"), "id", "v", 3)
    assert(ok.columns.contains("mov_avg"))
  }

  test("single-task lanes stay usable below the bound (and via opt-in)") {
    val small = spark.range(100).select(col("id"), lit(5L).as("tokens"))
    assert(Packing.packSequences(small, "id", "tokens", 64).count() === 100L)
    assert(Transformers.addIdSequential(small.toDF("id", "tokens"), "id")
      .agg(max(col("id"))).collect()(0).getLong(0) === 99L)
    // explicit opt-in disables the probe entirely (bound <= 0)
    val optIn = Packing.packSequences(small, "id", "tokens", 64,
      singleTaskRowBound = 0L)
    assert(optIn.count() === 100L)
  }

  // ---- FuzzyLookup: candidate-volume observe metric ----------------------

  test("fuzzy lookup emits a named candidate-volume observe metric") {
    import graft.operators.FuzzyLookup
    val left = Seq("acme corp", "globex inc").toDF("q")
    val right = Seq("acme corporation ltd", "globex incorporated")
      .toDF("name")
    val out = FuzzyLookup.lookup(left, "q", right, "name")
    out.collect() // the action that fills observedMetrics
    val metrics = out.queryExecution.observedMetrics
    val key = metrics.keys.find(_.startsWith("fuzzy_lookup_candidates_"))
    assert(key.nonEmpty,
      s"candidate-volume metric missing; saw ${metrics.keys.mkString(",")}")
    assert(metrics(key.get).getAs[Long]("candidate_rows") > 0L)
  }

  // ---- sources: dirty-input guards from the r17 as-it-stands sweep ------

  test("shapefile: soft-deleted dbf record keeps positional alignment") {
    import graft.sources.Shapefile
    import graft.sources.Shapefile.DbfField
    val dir = java.nio.file.Files.createTempDirectory("graft_shp17").toString
    val sq = (ox: Double) => Array(Array(ox, 0.0, ox + 1, 0.0, ox + 1, 1.0,
      ox, 1.0, ox, 0.0))
    Shapefile.writeShp(s"$dir/t.shp", Seq(sq(0), sq(10), sq(20)))
    Shapefile.writeDbf(s"$dir/t.dbf",
      Seq(DbfField("NAME", 'C', 5, 0)),
      Seq(Seq("aaa  "), Seq("bbb  "), Seq("ccc  ")))
    // soft-delete the SECOND record by flagging its delete byte
    val p = java.nio.file.Paths.get(s"$dir/t.dbf")
    val bytes = java.nio.file.Files.readAllBytes(p)
    val headerSize = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort(8) & 0xffff
    val recordSize = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort(10) & 0xffff
    bytes(headerSize + recordSize) = '*'
    java.nio.file.Files.write(p, bytes)
    val out = Shapefile.read(spark, dir)
      .select(col("record_no"), expr("attrs['NAME']").as("name"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted
    // record 2's feature is dropped WHOLE; record 3 keeps ITS OWN attrs
    // (pre-fix: rows shifted and shape 2 got 'ccc', shape 3 got nothing)
    assert(out === Array((1, "aaa"), (3, "ccc")))
  }

  test("shapefile: corrupt numPoints raises by name, not multi-GB alloc") {
    import graft.sources.Shapefile
    val dir = java.nio.file.Files.createTempDirectory("graft_shp17b").toString
    Shapefile.writeShp(s"$dir/t.shp",
      Seq(Array(Array(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 0.0))))
    val p = java.nio.file.Paths.get(s"$dir/t.shp")
    val bytes = java.nio.file.Files.readAllBytes(p)
    // numPoints sits at 100 (header) + 8 (rec header) + 4 (type) +
    // 32 (bbox) + 4 (numParts); write a huge LE value
    java.nio.ByteBuffer.wrap(bytes, 148, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(600000000)
    val e = intercept[IllegalArgumentException] {
      Shapefile.parseShp(bytes)
    }
    assert(e.getMessage.contains("corrupt size fields"))
  }

  test("tar: parseTarStream equals parseTar and quarantines truncation") {
    import graft.sources.TarShards
    val dir = java.nio.file.Files.createTempDirectory("graft_tar17").toString
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("k", "t")
      .coalesce(1)
    TarShards.write(df, "k", "t", dir, prefix = "s")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/s-00000.tar"))
    val whole = TarShards.parseTar(bytes)
    val streamed = TarShards.parseTarStream(
      new java.io.ByteArrayInputStream(bytes)).toSeq
    assert(whole.map(_._1) === streamed.map(_._1))
    assert(whole.zip(streamed).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    // truncated mid-body: earlier entries still land (quarantine)
    val cut = java.util.Arrays.copyOfRange(bytes, 0, 512 + 512 + 512 + 8)
    val partial = TarShards.parseTarStream(
      new java.io.ByteArrayInputStream(cut)).toSeq
    assert(partial.map(_._1) === Seq("1.txt"))
  }

  test("TarShards.write raises by name on NULL text and non-ASCII keys") {
    import graft.sources.TarShards
    val dir = java.nio.file.Files.createTempDirectory("graft_tar17b").toString
    val nullText = Seq((1L, "ok"), (2L, null.asInstanceOf[String]))
      .toDF("k", "t").coalesce(1)
    val e1 = intercept[org.apache.spark.SparkException] {
      TarShards.write(nullText, "k", "t", dir)
    }
    assert(e1.getMessage.contains("NULL text") ||
      Option(e1.getCause).exists(_.getMessage.contains("NULL text")))
    val badKey = Seq(("clé", "ok")).toDF("k", "t").coalesce(1)
    val e2 = intercept[org.apache.spark.SparkException] {
      TarShards.write(badKey, "k", "t", dir)
    }
    assert(e2.getMessage.contains("ASCII") ||
      Option(e2.getCause).exists(_.getMessage.contains("ASCII")))
  }

  test("streaming dedup accepts a state TTL (bounded-state lane runs)") {
    // NOTE: a ProcessingTimeTimeout query never goes idle — pending
    // timers keep scheduling no-data batches, so processAllAvailable and
    // even AvailableNow spin (both observed live). The TTL lane is a
    // production continuous-trigger knob by contract; the test drains by
    // polling the sink then stopping the query. Cross-batch state carry
    // is the exact lane's test.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "hello"), (2L, "hello"), (3L, "fresh"))
    val decisions = Streams.dedupDecisions(in.toDS(),
      stateTtlMs = Some(3600 * 1000L)) // 1h: nothing evicts inside a test
    val name = s"dd17_${System.nanoTime()}"
    spark.catalog.dropTempView(name)
    val q = decisions.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline &&
             spark.table(name).count() < 3) Thread.sleep(100)
    } finally q.stop()
    val out = spark.table(name)
      .select("docId", "keep", "dupIndex")
      .as[(Long, Boolean, Long)].collect().sortBy(_._1).toSeq
    // same verdicts as the exact lane while state lives
    assert(out === Seq((1L, true, 0L), (2L, false, 1L), (3L, true, 0L)))
  }

  // ---- jaccardLinkPrediction: uncapped-hub probe (r16 ADVICE #1) --------

  test("jaccardLinkPrediction uncapped raises by name on a >bound hub") {
    val n = Graph.JaccardUncappedHubProbeBound.toInt + 2
    // star graph: center 0 with degree n-1 > the probe bound
    val edges = spark.range(1, n).select(lit(0L).as("s"), col("id").as("d"))
    val e = intercept[IllegalArgumentException] {
      Graph.jaccardLinkPrediction(edges, "s", "d", k = 3)
    }
    assert(e.getMessage.contains("jaccardLinkPrediction"))
    assert(e.getMessage.contains("maxCenterDegree"))
  }

  test("jaccardLinkPrediction explicit cap skips the probe on the hub graph") {
    val n = Graph.JaccardUncappedHubProbeBound.toInt + 2
    val edges = spark.range(1, n).select(lit(0L).as("s"), col("id").as("d"))
    // capped: the hub is excluded as a wedge center; leaves have degree 1
    // so no wedges survive — runs to completion with zero candidates
    val got = Graph.jaccardLinkPrediction(edges, "s", "d", k = 3,
      maxCenterDegree = 100)
    assert(got.count() === 0L)
  }

  // ---- AsOfJoin NULL lanes keep SQL join semantics ----------------------

  test("asof join: NULL key/ts rows match nothing instead of inverting") {
    import org.apache.spark.sql.functions.col
    val left = Seq(
      (1L, Option("u"), Option(10L)),  // clean: matches at10
      (2L, None, Option(10L)),         // NULL key: SQL matches nothing
      (3L, Option("u"), None),         // NULL ts: SQL matches nothing
      (4L, None, None))
      .toDF("eid", "key", "t")
    val right = Seq(
      (Option("u"), Option(10L), 100L, "at10"),
      (Option.empty[String], Option(5L), 666L, "nullkey"), // must never match
      (Option("u"), Option.empty[Long], 777L, "nullts"))   // must never match
      .toDF("key", "t", "aid", "tag")
    val out = graft.operators.AsOfJoin.backward(left, right, "key", "t",
      Seq("aid", "tag"), "aid")
      .select(col("eid"), col("asof.aid")).orderBy("eid")
      .as[(Long, Option[Long])].collect().toSeq
    assert(out == Seq((1L, Some(100L)), (2L, None), (3L, None), (4L, None)))
    // forward mode: desc NULLS-FIRST keeps the NULL-ts left row away from
    // the carried payload at the partition's end
    val fwd = graft.operators.AsOfJoin.forward(left, right, "key", "t",
      Seq("aid", "tag"), "aid")
      .select(col("eid"), col("asof.aid")).orderBy("eid")
      .as[(Long, Option[Long])].collect().toSeq
    assert(fwd == Seq((1L, Some(100L)), (2L, None), (3L, None), (4L, None)))
  }

  test("asof join: reserved internal column names raise by name") {
    val left = Seq((1L, "u", 10L)).toDF("_m_", "key", "t")
    val right = Seq(("u", 10L, 1L)).toDF("key", "t", "aid")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.backward(left, right, "key", "t",
        Seq("aid"), "aid")
    }
    assert(e.getMessage.contains("reserved"))
    // a left side already carrying 'asof' (a previous pass's output)
    // would yield two same-named output columns — raise instead
    val left2 = Seq((1L, "u", 10L)).toDF("asof", "key", "t")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.backward(left2, right, "key", "t",
        Seq("aid"), "aid")
    }
    assert(e2.getMessage.contains("asof"))
  }

  // ---- retrieval dirty-input lanes ---------------------------------------

  test("booleanAnd: NULL/empty/multi-word query terms don't poison the query") {
    import graft.operators.Retrieval
    val docs = Seq((1L, "red fox"), (2L, "red hen")).toDF("doc_id", "text")
    val qs = Seq((10L, Option("red")), (10L, None), (10L, Option("")),
      (11L, Option("fox")),
      (12L, Option("red fox"))) // multi-word: AND of its tokens
      .toDF("query_id", "term")
    val got = Retrieval.booleanAnd(docs, "doc_id", "text", qs)
      .as[(Long, Long)].collect().toSet
    // query 10's NULL and '' terms are unmatchable by ANY document (the
    // doc tokenizer can't produce them) — ignored, not counted into the
    // required-hits total; query 12's whitespace term decomposes through
    // the SAME tokenizer as the doc side instead of silently matching
    // nothing
    assert(got == Set((10L, 1L), (10L, 2L), (11L, 1L), (12L, 1L)))
  }

  test("reciprocalRankFusion: a doc duplicated within one run fuses once") {
    import graft.operators.Retrieval
    val clean = Seq(
      ("a", 1L, 101L, 9.0), ("a", 1L, 102L, 5.0),
      ("b", 1L, 101L, 7.0))
      .toDF("run", "query", "doc_id", "score")
    // the duplicate sits BETWEEN 101's best and 102 — collapsing ranks
    // after assignment would leave 102 at rank 3 (its reciprocal wrong);
    // the pre-rank max-score collapse must make the whole fusion equal
    // the clean run's, other docs' ranks included
    val dirty = clean.unionByName(
      Seq(("a", 1L, 101L, 8.0)).toDF("run", "query", "doc_id", "score"))
    def fuse(df: org.apache.spark.sql.DataFrame) =
      Retrieval.reciprocalRankFusion(df, "run", "query", "doc_id", "score",
          k = 10)
        .select("doc_id", "n_runs", "fused_micro")
        .as[(Long, Long, Long)].collect().toSet
    val want = fuse(clean)
    assert(want == fuse(dirty)) // duplicate shifts NO doc's contribution
    assert(want.find(_._1 == 101L).get._2 == 2L) // n_runs counts RUNS
  }

  // ---- quantizer dirty-vector raises -------------------------------------

  test("int8Symmetric raises by name on NULL/NaN/Inf components") {
    import graft.operators.Quantize
    def enc(vs: Seq[Option[Float]]) =
      Quantize.int8Symmetric(
        Seq((1L, vs)).toDF("id", "v"), "v").select("qvec").collect()
    // clean vector still encodes
    assert(enc(Seq(Some(1.0f), Some(-2.0f))).nonEmpty)
    for (bad <- Seq(
      Seq(Some(1.0f), None),
      Seq(Some(Float.NaN), Some(1.0f)),
      Seq(Some(Float.PositiveInfinity)),
      Seq.empty[Option[Float]])) { // empty vector = NULL scale garbage
      val e = intercept[Exception] { enc(bad) }
      assert(e.getMessage.contains("int8Symmetric"), s"for $bad")
    }
    // large FINITE doubles are clean — Inf is matched exactly, not by a
    // magnitude threshold
    val big = graft.operators.Quantize.int8Symmetric(
      Seq((1L, Seq(1.0e308, -2.0))).toDF("id", "v"), "v")
    assert(big.select("qvec").collect().nonEmpty)
  }

  test("int8TopK refuses a corpus past the broadcast bound by name") {
    import graft.operators.Quantize
    val big = spark.range(5).select(col("id"),
      expr("array(cast(1.0 as float))").as("v"))
    // shrink nothing — just assert the message shape on a fake bound via
    // the real one: 5 rows pass, so drive the raise with the documented
    // bound check directly
    val ok = Quantize.int8TopK(big.limit(1), big, "id", "v", k = 2)
    assert(ok.count() >= 1) // below the bound: runs
    // the raise fires on the eager corpus count, BEFORE any encode or
    // join — so driving it with a 2^21+1-row projected range is cheap
    val huge = spark.range((1L << 21) + 1).select(col("id"),
      expr("array(cast(1.0 as float))").as("v"))
    val e = intercept[IllegalArgumentException] {
      Quantize.int8TopK(big.limit(1), huge, "id", "v", k = 2)
    }
    assert(e.getMessage.contains("2^21") &&
      e.getMessage.contains("ivfTopK"))
  }

  // ---- skew join contract -------------------------------------------------

  test("hotColdJoin rejects dim-preserving join types by name") {
    import graft.operators.Skew
    val facts = Seq((1, "x")).toDF("k", "fv")
    val dims = Seq((1, "y")).toDF("k", "dv")
    val e = intercept[IllegalArgumentException] {
      Skew.hotColdJoin(facts, dims, "k", hotKeys = Seq(1),
        joinType = "full_outer")
    }
    assert(e.getMessage.contains("fact-preserving"))
    // every alias spelling Spark itself accepts must pass the guard
    for (jt <- Seq("leftouter", "LEFT_OUTER", "leftsemi"))
      assert(Skew.hotColdJoin(facts, dims, "k", hotKeys = Seq(1),
        joinType = jt).count() == 1L, s"for $jt")
  }

  // ---- FFD planner prune is choice-identical ------------------------------

  test("planFirstFit segment tree packs exactly like the naive scan") {
    // the REAL planner vs a naive every-bin reference, on a skewed size
    // list that includes an oversized file (own overfull bin) and one
    // TINY file (the case that defeats a min-capacity prune: it keeps
    // every bin open — the tree's O(log B) descent doesn't care)
    val target = 100L
    val sizes = ((1 to 200).map(i => (f"f$i%03d", ((i * 37) % 90 + 10).toLong))
      :+ ("tiny", 1L) :+ ("oversized", 250L))
      .sortBy { case (n, l) => (-l, n) }
    def naive(fs: Seq[(String, Long)]): Seq[(String, Int, Long)] = {
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      fs.map { case (p, len) =>
        val fit = bins.indices.find(i => bins(i) + len <= target)
        val g = fit.getOrElse { bins += 0L; bins.length - 1 }
        bins(g) += len; (p, g, len)
      }
    }
    assert(naive(sizes) ==
      graft.operators.Layout.planFirstFit(sizes, target))
  }

  // ---- null-safe text-operator lanes ---------------------------------------

  test("matchEntities survives NULL token arrays and NULL tokens") {
    import graft.operators.EntityMatcher
    val docs = Seq(
      (1L, Seq("acme", "corp")),
      (2L, null.asInstanceOf[Seq[String]]),     // NULL array: no positions
      (3L, Seq(null.asInstanceOf[String], "acme"))) // NULL token: no match at 0
      .toDF("doc_id", "tokens")
    val ents = Seq(("t", 0, Seq("acme"))).toDF("tag", "entityIndex", "synonym")
    val got = EntityMatcher.matchEntities(docs, "doc_id", "tokens", ents)
      .select("doc_id", "from").as[(Long, Int)].collect().toSet
    assert(got == Set((1L, 0), (3L, 1))) // doc 2 silently matches nothing
  }

  test("dsir importance weights treat NULL text as empty (weight 0)") {
    import graft.operators.Dsir
    val df = Seq((1L, "alpha beta", true), (2L, null.asInstanceOf[String], false),
      (3L, "alpha", false)).toDF("id", "text", "tgt")
    val w = Dsir.importanceWeights(df, "text", "id", col("tgt"))
      .as[(Long, Double)].collect().toMap
    assert(w(2L) == 0.0 && w.size == 3)
  }

  // ---- geo dirty-geometry + fan-out lanes ---------------------------------

  test("pointInPolygonJoin: NULL ring matches nothing, odd ring raises") {
    import graft.operators.Geo
    val pts = Seq((1L, 0.5, 0.5)).toDF("pid", "x", "y")
    val unit = Seq(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0)
    def polys(ring: Seq[Double]) =
      Seq(("p", ring)).toDF("poly_id", "ring")
        .withColumn("minX", lit(0.0)).withColumn("maxX", lit(1.0))
        .withColumn("minY", lit(0.0)).withColumn("maxY", lit(1.0))
    assert(Geo.pointInPolygonJoin(pts, "x", "y", polys(unit)).count() == 1L)
    assert(Geo.pointInPolygonJoin(pts, "x", "y", polys(null)).count() == 0L)
    val e = intercept[Exception] {
      Geo.pointInPolygonJoin(pts, "x", "y", polys(unit.dropRight(1))).count()
    }
    assert(e.getMessage.contains("odd length"))
  }

  test("pointInPolygonJoin raises by name on degenerate cell fan-out") {
    import graft.operators.Geo
    val pts = Seq((1L, 0.5, 0.5)).toDF("pid", "x", "y")
    val continental = Seq(("big",
      Seq(0.0, 0.0, 10000.0, 0.0, 10000.0, 10000.0, 0.0, 10000.0)))
      .toDF("poly_id", "ring")
      .withColumn("minX", lit(0.0)).withColumn("maxX", lit(10000.0))
      .withColumn("minY", lit(0.0)).withColumn("maxY", lit(10000.0))
    val e = intercept[IllegalArgumentException] {
      Geo.pointInPolygonJoin(pts, "x", "y", continental, cellSize = 0.1)
    }
    assert(e.getMessage.contains("grid") && e.getMessage.contains("cellSize"))
    // auto-derived pitch passes the probe by construction
    assert(Geo.pointInPolygonJoin(pts, "x", "y", continental).count() == 1L)
    // ...including under SKEWED extents (many small + one huge): the
    // pitch derives from the MAX extent, so the mean can't explode the
    // largest polygon into (max/mean)^2 cells
    val blocks = (0 until 50).map { i =>
      ("blk" + i, Seq(i.toDouble, 0.0, i + 1.0, 0.0, i + 1.0, 1.0, i.toDouble, 1.0),
        i.toDouble, i + 1.0, 0.0, 1.0)
    }
    val skewed = (blocks :+ ("country",
      Seq(0.0, 0.0, 10000.0, 0.0, 10000.0, 10000.0, 0.0, 10000.0),
      0.0, 10000.0, 0.0, 10000.0))
      .toDF("poly_id", "ring", "minX", "maxX", "minY", "maxY")
    // point (0.5, 0.5) is inside block 0 AND the country polygon
    assert(Geo.pointInPolygonJoin(pts, "x", "y", skewed).count() == 2L)
  }

  test("bruteForceTopK refuses past the pair-volume bound by name") {
    val emb = spark.range(1 << 14).select(col("id").as("vec_id"),
      expr("array(cast(1.0 as float), cast(0.5 as float))").as("embedding"))
    // 2^14 x 2^14 = 2^28 pairs > the 2^27 bound — the probe raises
    // BEFORE the nested-loop join plans a single cosine
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 3)
    }
    assert(e.getMessage.contains("2^27") && e.getMessage.contains("lshTopK"))
    // a bounded query side stays well under the bound and runs
    val got = Similarity.bruteForceTopK(
      emb.where(col("vec_id") < 4), emb.where(col("vec_id") < 1024),
      "vec_id", "embedding", k = 3)
    assert(got.count() == 12L)
  }

  test("beam search raises by name on an empty option position") {
    import graft.functions.BeamSearch
    val ok = BeamSearch.bestPath[Int](Seq(Seq(1, 2), Seq(3)), (_, _) => 1.0)
    assert(ok._1 == Seq(1, 3) || ok._1 == Seq(2, 3))
    val e = intercept[IllegalArgumentException] {
      BeamSearch.bestPath[Int](Seq(Seq(1), Seq.empty, Seq(3)), (_, _) => 1.0)
    }
    assert(e.getMessage.contains("position 1"))
  }
}

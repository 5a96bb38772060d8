package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.{TextKernels, VectorKernels}

class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("exact dedup keeps the smallest id per duplicate text") {
    val df = Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb")).toDF("id", "text")
    val out = Dedup.exact(df, "text", "id").select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("semanticDedup: within-cluster near-dups collapse, cross-cluster ones survive") {
    // two tight clusters on orthogonal axes; ids 1/2 are near-identical in
    // cluster A, id 3 is alone in cluster B but identical DIRECTION to 4's
    // cluster-A outlier — cross-cluster, so it must NOT be deduped
    val emb = Seq(
      (1L, Array(1.0f, 0.01f, 0f, 0f), 0),
      (2L, Array(1.0f, 0.02f, 0f, 0f), 0),
      (3L, Array(0f, 0f, 1.0f, 0.01f), 1),
      (4L, Array(0f, 0f, 1.0f, 0.02f), 1),
      (5L, Array(0.6f, 0.8f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val cent = Similarity.quantizedLabelCentroids(emb, "embedding", "label")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding", cent,
      minCosine = 0.95)
      .select("id", "component", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 1L, false),
      (3L, 3L, true), (4L, 3L, false), (5L, 5L, true)))
  }

  test("dsir: target-only vocabulary scores above source-only vocabulary") {
    val df = Seq(
      (1L, "good good good"),
      (2L, "good good bad"),
      (3L, "bad bad bad"),
      (4L, "good bad junk"),
      (5L, "")
    ).toDF("doc_id", "text").withColumn("tgt", col("doc_id") <= 2)
    val w = graft.operators.Dsir
      .importanceWeights(df, "text", "doc_id", isTarget = col("tgt"))
      .as[(Long, Double)].collect().toMap
    // "good" dominates the target; docs made of it must outscore "bad" docs
    assert(w(1L) > w(3L))
    assert(w(2L) > w(3L))
    assert(w(5L) == 0.0) // no tokens -> empty fold -> exactly the seed
    // independent re-derivation of doc 3 from first principles: same
    // bucket hash, same add-1 counts, same fold order — must be bit-equal
    val bucket = (t: String) => java.lang.Long
      .remainderUnsigned(TextKernels.polyHash64Mixed(t), 64L).toInt
    val stream = Seq( // (token, isTarget) per occurrence across the corpus
      ("good", true), ("good", true), ("good", true),            // doc 1
      ("good", true), ("good", true), ("bad", true),             // doc 2
      ("bad", false), ("bad", false), ("bad", false),            // doc 3
      ("good", false), ("bad", false), ("junk", false))          // doc 4
    val byB = stream.groupBy { case (t, _) => bucket(t) }
    val sTot = stream.size.toDouble
    val tTot = stream.count(_._2).toDouble
    def lr(b: Int): Double = {
      val s = byB.getOrElse(b, Nil).size
      val t = byB.getOrElse(b, Nil).count(_._2)
      math.log(((t + 1.0) * (sTot + 64)) / ((s + 1.0) * (tTot + 64)))
    }
    val expected3 = Seq("bad", "bad", "bad")
      .foldLeft(0.0)((acc, t) => acc + lr(bucket(t)))
    assert(w(3L) == expected3)
    assert(w(3L) < 0.0) // "bad" is source-heavy -> negative log ratio
  }

  test("tokenizeToIds: merge ids by rank, base chars after, order preserved") {
    val df = Seq((1L, "abab ab"), (2L, "ba"), (3L, "")).toDF("doc_id", "text")
    val merges = graft.operators.BpeTrainer.train(df, "text", numMerges = 1)
    // pair (a,b) appears 3x weighted -> the single merge is "ab" (id 0);
    // base chars a, b get ids 1, 2
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "b")))
    val out = graft.operators.BpeTrainer
      .tokenizeToIds(df, "doc_id", "text", merges)
      .as[(Long, Seq[Int])].collect().toMap
    assert(out(1L) == Seq(0, 0, 0))   // abab -> [ab, ab]; ab -> [ab]
    assert(out(2L) == Seq(2, 1))      // ba -> [b, a] -> ids [2, 1]
    assert(out(3L) == Seq())          // empty doc -> empty ids, row kept
  }

  test("incremental near-dup: batch joins corpus only, never corpus x corpus") {
    val mk = (id: Long, t: String) => (id, t)
    // 1 and 2 are identical corpus docs (must NOT pair with each other in
    // the output); batch doc 10 duplicates them; batch doc 11 is novel
    val corpus = Seq(mk(1, "x y z w v u t s"), mk(2, "x y z w v u t s"),
      mk(3, "p q r s t u v w")).toDF("doc_id", "text")
    val batch = Seq(mk(10, "x y z w v u t s"), mk(11, "zz yy xx ww vv uu"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .minHashLshNewVsCorpus(batch, corpus, "text", "doc_id",
        minEstJaccard = 0.9)
      .select("batch_id", "corpus_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(out == Seq((10L, 1L), (10L, 2L)))
  }

  test("perDomainCap: best-quality-first rank, keep flag, rows retained") {
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 20L),
      (4L, "b", 5L)
    ).toDF("doc_id", "domain", "quality")
    val out = graft.operators.Sampling
      .perDomainCap(df, "domain", "quality", "doc_id", cap = 2)
      .select("doc_id", "domain_rank", "keep")
      .as[(Long, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 3, false), (2L, 1, true), (3L, 2, true),
      (4L, 1, true)))
  }

  test("annealingSchedule: per-epoch budgets admit independently, cum order by id") {
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L),
      (4L, "b", 10L)
    ).toDF("doc_id", "grp", "toks")
    val out = graft.operators.Sampling.annealingSchedule(df, "doc_id", "grp",
      "toks", Seq(1 -> Map("a" -> 30L, "b" -> 30L), 2 -> Map("a" -> 15L)))
      .select("epoch", "doc_id")
      .as[(Int, Long)].collect().sorted.toSeq
    // epoch 1 admits all of a (cum 10,20,30 <= 30) + b; epoch 2 admits
    // only doc 1 of a (cum 10 <= 15; doc 2 at 20 exceeds) and b not at all
    assert(out == Seq((1, 1L), (1, 2L), (1, 3L), (1, 4L), (2, 1L)))
  }

  test("dsir resampleTopK: deterministic, without replacement, seed-sensitive") {
    val w = (1L to 200L).map(i => (i, if (i <= 20) 5.0 else 0.0))
      .toDF("doc_id", "weight")
    val s1 = graft.operators.Dsir.resampleTopK(w, "doc_id", "weight", k = 10, seed = 1L)
      .select("doc_id").as[Long].collect().toSeq
    val s1b = graft.operators.Dsir.resampleTopK(w, "doc_id", "weight", k = 10, seed = 1L)
      .select("doc_id").as[Long].collect().toSeq
    val s2 = graft.operators.Dsir.resampleTopK(w, "doc_id", "weight", k = 10, seed = 2L)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 == s1b)                      // retry-stable
    assert(s1.distinct.size == 10)         // without replacement
    assert(s1 != s2)                       // noise actually depends on seed
    // weight +5 vs 0 is ~e^5:1 odds per draw: the heavy head must dominate
    assert(s1.count(_ <= 20) >= 8)
  }

  test("stripHtml: script subtree removed before tags, entities decoded, &amp; last") {
    val df = Seq(
      (1L, """<p>a &lt;b&gt; c</p><script>if (1<2) { x("<div>"); }</script> d"""),
      (2L, """x &amp;lt; y"""), // &amp; decodes LAST -> literal "&lt;" survives
      (3L, """<style a="b">p{}</style>ok   done""")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripHtml(df, "text")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out(1L) == "a <b> c d")
    assert(out(2L) == "x &lt; y")
    assert(out(3L) == "ok done")
  }

  test("Aho-Corasick contamination lane equals the contains-join bit-for-bit") {
    // overlapping/nested patterns stress the failure links: "b" inside
    // "ab" inside "abc"; "xy" shares a suffix with "zxy"
    val rnd = new scala.util.Random(3)
    val alpha = "abcxyz"
    val train = (1L to 40L).map { i =>
      (i, Seq.fill(30)(alpha(rnd.nextInt(alpha.length))).mkString)
    }.toDF("doc_id", "text")
    val sn = Seq("b", "ab", "abc", "xy", "zxy", "qq").toDF("snippet")
    val a = graft.operators.Contamination
      .exactContainsReport(train, "doc_id", "text", sn, "snippet")
      .select("doc_id", "n_hits", "contaminated")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val b = graft.operators.Contamination
      .exactContainsReportAC(train, "doc_id", "text", sn, "snippet")
      .select("doc_id", "n_hits", "contaminated")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(a == b)
    assert(a.exists(_._2 > 1), "fixture degenerate: no multi-pattern hit")
  }

  test("exact-contains contamination: verbatim hit flagged, zero-hit rows kept") {
    val train = Seq((1L, "the quick brown fox jumps"),
      (2L, "nothing to see here")).toDF("doc_id", "text")
    val sn = Seq("quick brown", "absent snippet").toDF("snippet")
    val out = graft.operators.Contamination
      .exactContainsReport(train, "doc_id", "text", sn, "snippet")
      .select("doc_id", "n_hits", "contaminated")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 0L, false)))
  }

  test("charEntropy: uniform alphabet hits ln(k), single char is 0, empty is 0") {
    val df = Seq((1L, "abcd"), (2L, "aaaa"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(df, "text", "doc_id")
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - math.log(4.0)) < 1e-12)
    assert(out(2L) == 0.0)
    assert(out(3L) == 0.0)
  }

  test("length-bucketed batching: log2 tiers, batch ordinals, power-of-two pad") {
    val rows = Seq((1L, 5), (2L, 7), (3L, 6), (4L, 17), (5L, 1), (6L, 4))
      .toDF("doc_id", "tokens")
    val out = graft.operators.Packing
      .lengthBucketedBatches(rows, "doc_id", "tokens", batchSize = 2)
      .select("doc_id", "bucket", "batch_id", "pad_to")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val k = 1L << 40
    assert(out == Seq(
      (1L, 2L, 2 * k, 8L),      // tokens 5 -> bucket 2, first of batch 0
      (2L, 2L, 2 * k, 8L),      // tokens 7 -> same bucket, fills batch 0
      (3L, 2L, 2 * k + 1, 8L),  // tokens 6 -> bucket 2 overflows to batch 1
      (4L, 4L, 4 * k, 32L),     // tokens 17 -> bucket 4
      (5L, 0L, 0L, 2L),         // tokens 1 -> bucket 0
      (6L, 2L, 2 * k + 1, 8L))) // tokens 4 -> bucket 2, joins batch 1
  }

  test("incremental dedup: corpus hits dropped, within-batch keep-first, corpus untouched") {
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha"),  // already in corpus -> dropped
      (11L, "gamma"), (12L, "gamma"), // batch-internal dup -> keep 11
      (13L, "delta")).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.exactIncremental(batch, corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
    // the Bloom-prefiltered path must be bit-identical (false positives
    // fall through to the exact join; definite-negatives skip it)
    val keptBloom = graft.operators.Dedup
      .exactIncrementalBloom(batch, corpus, "text", "doc_id", expectedItems = 64L)
      .select("doc_id").as[Long].collect().toSet
    assert(keptBloom == kept)
  }

  test("paragraph dedup: global first occurrence wins, docs reassemble in order") {
    val docs = Seq(
      (1L, "p1\np2"),   // first occurrences of p1, p2
      (2L, "p2\np3"),   // p2 already seen -> only p3 survives
      (3L, "p1"),       // fully duplicated -> empty
      (4L, "p4\np4"))   // within-doc dup -> one p4
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupParagraphs(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Int)].collect().toSeq
    assert(out == Seq(
      (1L, "p1\np2", 2), (2L, "p3", 1), (3L, "", 0), (4L, "p4", 1)))
  }

  test("boilerplate removal: frequent lines cut everywhere, unique lines survive") {
    val docs = Seq(
      (1L, "nav\nreal content one"),
      (2L, "nav\nreal content two"),
      (3L, "nav\nreal content three"),
      (4L, "nav")) // loses everything -> empty, still present
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .removeFrequentLines(docs, "doc_id", "text", maxDocFreq = 2)
      .orderBy("doc_id").as[(Long, String, Int)].collect().toSeq
    assert(out == Seq(
      (1L, "real content one", 1), (2L, "real content two", 1),
      (3L, "real content three", 1), (4L, "", 0)))
    // below the threshold nothing is touched
    val none = graft.operators.Dedup
      .removeFrequentLines(docs, "doc_id", "text", maxDocFreq = 4)
      .orderBy("doc_id").as[(Long, String, Int)].collect().toSeq
    assert(none.map(_._2) == docs.orderBy("doc_id").as[(Long, String)]
      .collect().toSeq.map(_._2))
  }

  test("substring dedup: duplicate window spans merge and cut; first occurrence kept") {
    val quote = "one two three four five six seven eight nine" // 9 tokens
    val docs = Seq(
      (1L, quote),                         // first occurrence -> untouched
      (2L, s"intro words here $quote after"), // quoted span cut, rest kept
      (3L, "totally different text with no duplicate windows at all"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .dedupSubstrings(docs, "doc_id", "text", windowTokens = 8)
      .orderBy("doc_id").as[(Long, String, Int)].collect().toSeq
    // doc 2: windows [0..8) and [1..9) of the quote are both duplicates —
    // their union cuts all 9 quote tokens, not 8 (the span merge)
    assert(out == Seq(
      (1L, quote, 0),
      (2L, "intro words here after", 9),
      (3L, "totally different text with no duplicate windows at all", 0)))
  }

  test("c4 clean: line predicates and doc-level markers") {
    val docs = Seq(
      (1L, "this line is kept.\nno punctuation here\ntiny.\nthis one uses javascript today.\nthis is also kept!"),
      (2L, "looks fine.\nbut the doc has { code }"),
      (3L, "lorem ipsum dolor sit amet.")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .c4Clean(docs, "doc_id", "text", minWordsPerLine = 3, minLinesPerDoc = 2)
      .orderBy("doc_id").as[(Long, String, Int, Int, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, "this line is kept.\nthis is also kept!", 5, 2, true), // punct/minwords/js dropped
      (2L, "", 2, 0, false),  // '{' blanks the doc
      (3L, "", 1, 0, false))) // lorem ipsum blanks the doc
  }

  test("frequent ngrams: doc frequency counts distinct docs, topK total order") {
    val docs = Seq(
      (1L, "click here to start click here to start"), // within-doc dup counts once
      (2L, "click here to begin"),
      (3L, "click here to begin again")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .frequentNgrams(docs, "doc_id", "text", n = 3, minDocFreq = 2, topK = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("click here to", 3L), ("here to begin", 2L)))
  }

  test("shuffle shards: deterministic permutation, dense per-shard order") {
    val docs = Seq.range(0L, 100L).toDF("doc_id")
    val out = graft.operators.Sampling.shuffleShards(docs, "doc_id", 8)
      .as[(Long, Int, Long)].collect().toSeq
    assert(out.size == 100 && out.map(_._1).toSet.size == 100)
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == Seq.range(0L, rows.size.toLong)) }
    // shard is the signed pmod of the avalanched id, replayed exactly
    out.foreach { case (id, shard, _) =>
      val m = graft.functions.TextKernels.mix64(id)
      assert(shard == java.lang.Math.floorMod(m, 8L).toInt) }
    // rerun -> identical assignment (pure function of ids)
    val again = graft.operators.Sampling.shuffleShards(docs, "doc_id", 8)
      .as[(Long, Int, Long)].collect().toSeq
    assert(again.toSet == out.toSet)
    // a different epoch deals a different (but still valid) permutation
    val ep1 = graft.operators.Sampling.shuffleShards(docs, "doc_id", 8, epoch = 1L)
      .as[(Long, Int, Long)].collect().toSeq
    assert(ep1.toSet != out.toSet && ep1.map(_._1).toSet.size == 100)
  }

  test("approx score buckets agree with exact ntile away from cut points") {
    val rows = Seq.range(0L, 1000L).map(i => (i, (i * 37 % 1000).toDouble))
      .toDF("doc_id", "score")
    val exact = TextAnalysis.scoreBuckets(rows, "doc_id", "score", 4)
      .select("doc_id", "bucket").as[(Long, Int)].collect().toMap
    val approx = TextAnalysis.scoreBucketsApprox(rows, "doc_id", "score", 4)
      .select("doc_id", "bucket").as[(Long, Int)].collect().toMap
    val agree = exact.count { case (id, b) => approx(id) == b }
    assert(agree >= 950, s"approx/exact agreement $agree/1000")
    // nulls land in the worst bucket on both paths
    val withNull = Seq((1L, Some(5.0)), (2L, None), (3L, Some(1.0)))
      .toDF("doc_id", "score")
    val nb = TextAnalysis.scoreBucketsApprox(withNull, "doc_id", "score", 2)
      .select("doc_id", "bucket").as[(Long, Int)].collect().toMap
    assert(nb(2L) == 2 && nb(1L) == 1)
  }

  test("priority dedup: curated copy beats raw original regardless of id order") {
    val pool = Seq(
      (1L, "page one", 1), (9001L, "page one", 0), // curated 9001 wins
      (2L, "page two", 1),                          // unduplicated -> kept
      (3L, "page three", 0), (9003L, "page three", 0)) // tie -> smaller id
      .toDF("doc_id", "text", "priority")
    val kept = Dedup.exactByPriority(pool, "text", "doc_id", "priority")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(9001L, 2L, 3L))
  }

  test("gopher rules: each rule fires on its own pathological document") {
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, fifty + " the the"),                    // all rules pass
      (2L, "too short but the the fine."),         // word count fails
      (3L, fifty + " the the ################"),   // symbol ratio fails
      (4L, (1 to 50).map(_ => "99").mkString(" ") + " the the"), // alpha fails
      (5L, fifty + " zz zz"))                      // no 2 stopwords
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 20)
      .orderBy("doc_id")
      .select("doc_id", "r_word_count", "r_symbol_ratio", "r_alpha_words",
        "r_stopwords", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, true, true, true, true, true),
      (2L, false, true, true, true, false),
      (3L, true, false, true, true, false),
      (4L, true, true, false, true, false),
      (5L, true, true, true, false, false)))
  }

  test("score buckets: equal-size tiers, best scores in bucket 1, nulls last") {
    val rows = Seq((1L, Some(0.9)), (2L, Some(0.5)), (3L, Some(0.7)),
      (4L, None), (5L, Some(0.1)), (6L, Some(0.3)))
      .toDF("doc_id", "score")
    val out = TextAnalysis.scoreBuckets(rows, "doc_id", "score", nBuckets = 3)
      .select("doc_id", "bucket").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 3L -> 1, 2L -> 2, 6L -> 2, 5L -> 3, 4L -> 3))
  }

  test("z-order: hand-checked interleave; buckets tile the plane tighter than row order") {
    val df = Seq((3L, 5L)).toDF("x", "y")
    val z = df.select(graft.operators.Layout.zOrderValue(col("x"), col("y")))
      .as[Long].head()
    assert(z == 39L) // x=011 at even bits, y=101 at odd bits -> 100111
    // locality: on a 32x32 grid with 16-point buckets, z-order buckets are
    // 4x4 tiles (worst per-dimension extent 4) while row-major buckets are
    // 1x16 strips (worst extent 16) — min/max pruning on the strip's long
    // dimension is 4x weaker
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def worstExtent(bucket: org.apache.spark.sql.Column): Long =
      grid.groupBy(bucket.as("b"))
        .agg(greatest(max("x") - min("x") + 1, max("y") - min("y") + 1)
          .as("ext"))
        .agg(max("ext")).as[Long].head()
    val zBucket = shiftright(
      graft.operators.Layout.zOrderValue(col("x"), col("y"), 5), 4)
    val rowBucket = shiftright(col("x") * 32 + col("y"), 4)
    assert(worstExtent(zBucket) == 4L)
    assert(worstExtent(rowBucket) == 16L)
  }

  test("cluster representatives: longest member wins, ties to smaller id") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "component")
    val meta = Seq((1L, 10), (2L, 50), (3L, 50), (7L, 5), (8L, 5))
      .toDF("doc_id", "quality")
    val out = Dedup.electRepresentatives(comps, meta, "doc_id", "quality")
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    // cluster 1: 2 and 3 tie at 50 -> 2 wins; cluster 7: tie -> 7 wins
    assert(out == Map(1L -> false, 2L -> true, 3L -> false,
      7L -> true, 8L -> false))
  }

  test("blocklist filter: matches counted in list order, clean docs keep") {
    val docs = Seq(
      (1L, "perfectly clean content"),
      (2L, "has BAD WORD inside"),
      (3L, "bad word and worse word both")).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistFilter(docs, "doc_id", "text",
      Seq("bad word", "worse word"))
      .orderBy("doc_id").as[(Long, Int, String, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 0, "", true),
      (2L, 1, "bad word", false),
      (3L, 2, "bad word", false)))
  }

  test("quantized centroids: integer sums are exact; confusion is a partition") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val cent = Similarity.quantizedLabelCentroids(vecs, "embedding", "label")
    val cm = cent.orderBy("label", "pos")
      .as[(Int, Int, Long, Long)].collect().toSeq
    // floor(0.9*1000)=899 (float 0.9 is just below), floor(0.1*1000)=100
    assert(cm == Seq((0, 0, 1899L, 2L), (0, 1, 100L, 2L),
      (1, 0, 100L, 2L), (1, 1, 1899L, 2L)))
    val conf = Similarity.nearestCentroidConfusion(vecs, "vec_id",
      "embedding", "label", cent)
      .as[(Int, Int, Long)].collect().toSeq
    assert(conf.map(_._3).sum == 4L)
    assert(conf.toSet == Set((0, 0, 2L), (1, 1, 2L))) // clean separation
  }

  test("asof join: inclusive backward match, pre-anchor nulls, tie dedup") {
    val left = Seq((1L, "u", 10L), (2L, "u", 20L), (3L, "u", 5L), (4L, "v", 99L))
      .toDF("eid", "key", "t")
    val right = Seq(
      ("u", 10L, 100L, "at10"),    // equal-ts -> visible to eid 1 (inclusive)
      ("u", 10L, 999L, "dup10"),   // same (key, ts): larger tie id -> dropped
      ("u", 15L, 101L, "at15"))    // latest for eid 2; "v" has no anchors
      .toDF("key", "t", "aid", "tag")
    val out = graft.operators.AsOfJoin.backward(left, right, "key", "t",
      Seq("aid", "tag"), "aid")
      .select(col("eid"), col("asof.aid"), col("asof.tag"))
      .orderBy("eid")
      .as[(Long, Option[Long], Option[String])].collect().toSeq
    assert(out == Seq(
      (1L, Some(100L), Some("at10")), // inclusive + deterministic tie winner
      (2L, Some(101L), Some("at15")), // carries the LATEST anchor, not first
      (3L, None, None),               // before any anchor
      (4L, None, None)))              // key with no right side at all
    val fwd = graft.operators.AsOfJoin.forward(left, right, "key", "t",
      Seq("aid", "tag"), "aid")
      .select(col("eid"), col("asof.aid")).orderBy("eid")
      .as[(Long, Option[Long])].collect().toSeq
    assert(fwd == Seq(
      (1L, Some(100L)),  // inclusive at equal ts
      (2L, None),        // nothing at or after 20
      (3L, Some(100L)),  // earliest anchor >= 5 is ts 10
      (4L, None)))
  }

  test("hash sample: stable membership, exact complement, seed independence") {
    val docs = Seq.range(0L, 2000L).toDF("doc_id")
    val held = graft.operators.Sampling.hashSample(docs, "doc_id", 0.1, seed = 1L)
      .as[Long].collect().toSet
    assert(held.size > 120 && held.size < 280, s"~10% expected, got ${held.size}")
    // growing the corpus never changes existing membership
    val grown = Seq.range(0L, 4000L).toDF("doc_id")
    val held2 = graft.operators.Sampling.hashSample(grown, "doc_id", 0.1, seed = 1L)
      .as[Long].collect().toSet
    assert(held2.filter(_ < 2000L) == held)
    // a nested fraction is a subset (thresholds nest)
    val small = graft.operators.Sampling.hashSample(docs, "doc_id", 0.02, seed = 1L)
      .as[Long].collect().toSet
    assert(small.subsetOf(held))
    // a different seed draws a different set
    val other = graft.operators.Sampling.hashSample(docs, "doc_id", 0.1, seed = 2L)
      .as[Long].collect().toSet
    assert(other != held)
  }

  test("fim splits: reassembly invariant, short docs pass whole, deterministic") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y")).toDF("doc_id", "text")
    val out = graft.operators.Packing.fimSplits(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Int, String, String, String)].collect().toSeq
    val (_, n1, p1, m1, s1) = out(0)
    // cuts land in [1, n-1]: prefix is never empty, and the three pieces
    // reassemble the original token stream exactly
    assert(n1 == 8 && p1.nonEmpty)
    assert(Seq(p1, m1, s1).filter(_.nonEmpty).mkString(" ") == "a b c d e f g h")
    assert(out(1) == ((2L, 2, "x y", "", ""))) // below minTokens -> whole prefix
    val again = graft.operators.Packing.fimSplits(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Int, String, String, String)].collect().toSeq
    assert(again == out) // pure function of (id, text)
  }

  test("ngram jaccard: identical docs score 1.0, disjoint docs are absent") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "text", "doc_id", n = 2, minJaccard = 0.1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("minhash LSH finds the true near-duplicate pairs (vs exact jaccard)") {
    val docs = Tables.documents(spark, sf)
    val truth = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, minJaccard = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture data should contain near-dups")
    val found = Dedup.minHashLshPairs(docs, "text", "doc_id",
      numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall over ${truth.size} true pairs")
  }

  test("simhash: identical texts collide at hamming 0; pairs are ordered") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely unrelated")).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(df, "text", "doc_id", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0L)))
  }

  test("brute-force knn: hand-built vectors rank by cosine") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df.where($"vec_id" === 1), df,
      "vec_id", "embedding", k = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq.sortBy(_._2)
    assert(out == Seq((2L, 1), (3L, 2)))
  }

  test("RAKE: deg/freq scores, stopword phrase splits, phrase-length cap, top-k") {
    import graft.operators.TextAnalysis
    // phrases: "red apple" / "apple" / "long phrase beyond cap limit"(>4, dropped)
    val docs = Seq(
      (1L, "red apple the apple"),
      (2L, "long phrase beyond cap limit")).toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeywords(docs, "doc_id", "text",
        stopwords = Seq("the"), maxPhraseLen = 4, topK = 3)
      .select("doc_id", "rank", "phrase", "score_r")
      .as[(Long, Int, String, Double)].collect().toSeq.sorted
    // stats over kept phrases: red(freq1,deg2) apple(freq2,deg3)
    // "red apple" = 2/1 + 3/2 = 3.5; "apple" = 1.5; doc2 fully dropped
    assert(got == Seq((1L, 1, "red apple", 3.5), (1L, 2, "apple", 1.5)))
  }

  test("unigram LM: EM lifts likelihood over the char baseline, chars survive, viterbi segments") {
    import graft.operators.UnigramLm
    val docs = Seq((1L, "the order line"), (2L, "the the order"),
      (3L, "line order the order")).toDF("doc_id", "text")
    val vocab = UnigramLm.train(docs, "text", vocabSize = 20,
      emRounds = 2, maxPieceLen = 5, seedCap = 64)
    val pm = vocab.map(p => p.piece -> p.prob).toMap
    // probs are a distribution; every corpus char survives pruning
    assert(math.abs(pm.values.sum - 1.0) < 1e-9)
    "theorlin ".trim.foreach(c =>
      assert(pm.contains(c.toString), s"char '$c' pruned"))
    // trained vocab explains the corpus strictly better than chars alone
    val charVocab = pm.keys.filter(_.length == 1).toSeq.sorted
      .map(c => UnigramLm.Piece(c, 1.0 / pm.keys.count(_.length == 1)))
    val trained = UnigramLm.corpusLogLikelihood(docs, "text", vocab)
    val baseline = UnigramLm.corpusLogLikelihood(docs, "text", charVocab)
    assert(trained > baseline,
      s"EM should beat the char baseline: $trained <= $baseline")
    // frequent whole words become single pieces under Viterbi
    val stats = UnigramLm.segmentStats(docs, "doc_id", "text", vocab)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "n_pieces", "n_unseg")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(stats.map(_._2) == Seq(3L, 3L, 4L)) // word counts
    assert(stats.forall(_._4 == 0L), "all words reachable (chars kept)")
    assert(stats.map(_._3).sum < stats.map(s =>
      s._2 * 5).sum, "pieces must compress vs chars")
    // unreachable word (char outside vocab) flags n_unseg, costs 1 piece
    val alien = Seq((9L, "zzz the")).toDF("doc_id", "text")
    val a = UnigramLm.segmentStats(alien, "doc_id", "text", vocab)
      .select("n_words", "n_pieces", "n_unseg")
      .as[(Long, Long, Long)].collect().head
    assert(a._1 == 2L && a._3 == 1L)
  }

  test("unigram LM expected counts: forward-backward mass lands on the dominant piece") {
    import graft.operators.UnigramLm
    // char-only uniform: "ab" splits evenly; with a strong "ab" piece the
    // expected count concentrates on it
    val charProbs = Map("a" -> 0.5, "b" -> 0.5)
    val e1 = UnigramLm.expectedCounts("ab", charProbs, 2)
    assert(math.abs(e1("a") - 1.0) < 1e-12 &&
      math.abs(e1("b") - 1.0) < 1e-12)
    val mixed = Map("a" -> 0.05, "b" -> 0.05, "ab" -> 0.9)
    val e2 = UnigramLm.expectedCounts("ab", mixed, 2)
    // P(segment as [ab]) = 0.9 / (0.9 + 0.0025)
    val pAb = 0.9 / (0.9 + 0.05 * 0.05)
    assert(math.abs(e2("ab") - pAb) < 1e-12)
    assert(math.abs(e2("a") - (1 - pAb)) < 1e-12)
  }

  test("wordpiece: longest match wins, UNK collapses the word, rollup per doc") {
    val vocab = Set("un", "unable", "able", "a", "b", "l", "e", "n", "u")
    val docs = Seq(
      (1L, "unable unab"),   // 1 piece (whole-word match) + 3 pieces
      (2L, "xyz able"),      // UNK (x not in vocab) + 1 piece
      (3L, "  ")).toDF("doc_id", "text") // whitespace-only: no row
    val got = graft.operators.WordPiece.segmentStats(docs, "doc_id", "text",
        vocab)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "n_pieces", "n_unk")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 4L, 0L), (2L, 2L, 2L, 1L)))
  }

  test("hard negatives: nearest same-label neighbor excluded, wrong-label ranks hold") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0),   // query, label 0
      (2L, Seq(0.99f, 0.1f), 0),  // nearest overall — same label, excluded
      (3L, Seq(0.9f, 0.4f), 1),
      (4L, Seq(0.0f, 1.0f), 1),
      (5L, Seq(-1.0f, 0.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(df.where($"vec_id" === 1), df,
      "vec_id", "embedding", "label", k = 3)
      .select("neighbor_id", "neighbor_label", "rank")
      .as[(Long, Int, Int)].collect().toSeq.sortBy(_._3)
    assert(out == Seq((3L, 1, 1), (4L, 1, 2), (5L, 2, 3)))
    // equivalence: hardNegatives == bruteForceTopK restricted to
    // wrong-label corpus rows (on real embeddings, a bigger k)
    val emb = Tables.embeddings(spark, sf)
    val q = emb.where($"vec_id" < 20)
    val got = Similarity.hardNegatives(q, emb, "vec_id", "embedding",
        "label", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val labels = emb.select("vec_id", "label").as[(Long, Int)]
      .collect().toMap
    val want = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = emb.count().toInt)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
      .filter { case (qid, nid, _) => labels(qid) != labels(nid) }
      .groupBy(_._1).toSeq.flatMap { case (qid, ns) =>
        ns.sortBy(_._3).map(_._2).take(5).zipWithIndex.map {
          case (nid, i) => (qid, nid, i + 1) } }.toSet
    assert(got == want)
  }

  test("hard negatives LSH path: labels always differ, recall >= 0.5 vs exact") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.where($"vec_id" < 30)
    val exact = Similarity.hardNegatives(q, emb, "vec_id", "embedding",
        "label", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.hardNegativesLsh(q, emb, "vec_id", "embedding",
        "label", k = 3, dim = 64, bitsPerTable = 4, nTables = 16)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label")
      .as[(Long, Int, Long, Int)].collect()
    assert(approx.forall { case (_, ql, _, nl) => ql != nl },
      "LSH path leaked a same-label pair")
    val approxPairs = approx.map(t => (t._1, t._3)).toSet
    val recall = exact.count(approxPairs.contains).toDouble / exact.size
    assert(recall >= 0.5, s"hard-negative LSH recall was $recall")
  }

  test("LSH ANN: recall >= 0.5 vs brute force top-3 on real embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.where($"vec_id" < 30)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // synthetic embeddings are near-random (neighbor cosine ~0.4 => per-bit
    // agreement ~0.6, LSH's worst case): short signatures + many tables
    val approx = Similarity.lshTopK(q, emb, "vec_id", "embedding", 3,
      dim = 64, bitsPerTable = 4, nTables = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall was $recall")
    // the engine-portable Rademacher-plane mode (ann02's oracle-gated path)
    // must hold the same recall floor as the Gaussian planes
    val portable = Similarity.lshTopK(q, emb, "vec_id", "embedding", 3,
      dim = 64, bitsPerTable = 4, nTables = 16, portablePlanes = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pRecall = exact.count(portable.contains).toDouble / exact.size
    assert(pRecall >= 0.5, s"portable-plane LSH recall was $pRecall")
  }

  test("language id: stopword-profile heuristic identifies common languages") {
    val df = Seq(
      "the cat is on the mat and it is happy",
      "le chat est dans la maison et il est content",
      "der Hund ist in dem Haus und er ist nicht allein",
      "el perro es grande y la casa es bonita",
      "这是一个中文句子用来测试语言识别功能").toDF("text")
    val out = df.select(TextAnalysis.langIdUdf($"text")).as[String].collect().toSeq
    assert(out == Seq("en", "fr", "de", "es", "zh"))
  }

  test("fingerprint is whitespace/case-noise stable, content-sensitive") {
    val df = Seq("Hello  World", "hello world", "hello worlds").toDF("text")
    val fp = df.select(TextAnalysis.fingerprintUdf($"text")).as[Long].collect()
    assert(fp(0) == fp(1) && fp(1) != fp(2))
  }

  test("image aHash: re-encode invariant, perturbation-tolerant, inversion-hostile") {
    def png(f: (Int, Int) => Int, w: Int = 32, h: Int = 32): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def gradAt(w: Int)(x: Int, y: Int) = {
      val v = x * 255 / (w - 1); (v << 16) | (v << 8) | v
    }
    def grad(x: Int, y: Int) = gradAt(32)(x, y)
    val base = Multimodal.imageAHash(png(grad))
    // identical content at a DIFFERENT size → identical hash (grid pools)
    assert(base == Multimodal.imageAHash(png(gradAt(64), 64, 64)))
    // one corrupted pixel barely moves the hash
    val perturbed = Multimodal.imageAHash(
      png((x, y) => if (x == 3 && y == 3) 0xFFFFFF else grad(x, y)))
    assert(java.lang.Long.bitCount(base ^ perturbed) <= 2)
    // inverted gradient is far away
    val inverted = Multimodal.imageAHash(
      png((x, y) => grad(31 - x, y)))
    assert(java.lang.Long.bitCount(base ^ inverted) >= 16)
    // undecodable bytes quarantine to null
    assert(Multimodal.imageAHash(Array[Byte](1, 2, 3)) == null)
    // pair join: exact twin found at hamming 0, inverted twin excluded
    val rows = Seq((1L, png(grad)), (2L, png(gradAt(64), 64, 64)),
      (3L, png((x, y) => grad(31 - x, y)))).toDF("id", "bytes")
    val pairs = Multimodal.imageNearDupPairs(rows, "id", "bytes",
        maxHamming = 2)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(pairs == Set((1L, 2L, 0)))
  }

  test("audio fingerprint: pitch-selective, duration-tolerant, quarantine") {
    // same pitch (id ≡ mod 16) at different lengths → near-identical
    // fingerprints; different pitch → far
    val a = Multimodal.audioFingerprint(Multimodal.wavBytes(3L, nSamples = 1600))
    val aLong = Multimodal.audioFingerprint(Multimodal.wavBytes(3L, nSamples = 2400))
    val b = Multimodal.audioFingerprint(Multimodal.wavBytes(7L, nSamples = 1600))
    assert(java.lang.Long.bitCount(a ^ aLong) <= 4,
      s"same pitch drifted ${java.lang.Long.bitCount(a ^ aLong)} bits")
    assert(java.lang.Long.bitCount(a ^ b) >= 10,
      s"different pitch only ${java.lang.Long.bitCount(a ^ b)} bits apart")
    assert(Multimodal.audioFingerprint(Array[Byte](9, 9, 9)) == null)
    // pair engine: same-pitch pair found, cross-pitch pair excluded
    val rows = Seq((1L, Multimodal.wavBytes(3L, nSamples = 1600)),
      (2L, Multimodal.wavBytes(3L, nSamples = 2000)),
      (3L, Multimodal.wavBytes(7L, nSamples = 1600))).toDF("id", "bytes")
    val pairs = Multimodal.audioNearDupPairs(rows, "id", "bytes",
        maxHamming = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("multimodal: batched feature extraction preserves ids and emits fixed dim") {
    val media = Multimodal.syntheticMedia(
      spark.range(0, 100).toDF("id"), "id")
    val feats = Multimodal.extractFeatures(media, dim = 16, batchSize = 7)
    assert(feats.count() == 100)
    val row = feats.where($"media_id" === 5)
      .select("features").as[Seq[Float]].collect().head
    assert(row.length == 16 && row.exists(_ != 0f))
    // deterministic: same input -> same features
    val again = Multimodal.extractFeatures(media, dim = 16, batchSize = 64)
      .where($"media_id" === 5).select("features").as[Seq[Float]].collect().head
    assert(row == again)
  }

  test("multimodal: PNG decode extracts real pixel luminance, not byte noise") {
    // 2x1 image, id=0: left pixel (r=0, g=0, b=0) lum 0; right pixel
    // (r=255, g=0, b=1) lum 256/765. Strip pooling with dim=2 isolates them.
    val png = Multimodal.pngBytes(0L, 2, 1)
    val feats = Multimodal.decodeImageFeatures(png, 2)
    assert(math.abs(feats(0) - 0.0f) < 1e-6, s"left strip ${feats(0)}")
    assert(math.abs(feats(1) - 256.0 / 765.0) < 1e-6, s"right strip ${feats(1)}")
    // the DataFrame path uses the same real decode for image/* mimes
    val media = Multimodal.syntheticMedia(spark.range(0, 3).toDF("id"), "id")
    val viaDf = Multimodal.extractFeatures(media, dim = 4)
      .where($"media_id" === 1).select("features").as[Seq[Float]].collect().head
    // media_id 1 -> width (1%4)*16+16 = 32, height (1%3)*16+16 = 32
    val direct = Multimodal.decodeImageFeatures(Multimodal.pngBytes(1L, 32, 32), 4)
    assert(viaDf == direct.toSeq)
    // red ramps left->right, so luminance strips must increase monotonically
    assert(viaDf.sliding(2).forall(p => p(0) < p(1)), s"not a gradient: $viaDf")
    // undecodable bytes -> null, not a crash
    assert(Multimodal.decodeImageFeatures(Array[Byte](1, 2, 3), 4) == null)
  }

  test("multimodal: resize maps pixels by exact nearest-neighbor index math") {
    val media = Multimodal.syntheticMedia(spark.range(5, 6).toDF("id"), "id")
    // media_id 5 -> in 32x48 ((5%4)*16+16, (5%3)*16+16)
    val out = Multimodal.resizeImages(media, outW = 4, outH = 4)
      .select("media_id", "in_width", "in_height", "out_bytes")
      .collect().head
    assert(out.getInt(1) == 32 && out.getInt(2) == 48)
    val resized = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.getAs[Array[Byte]]("out_bytes")))
    val src = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.pngBytes(5L, 32, 48)))
    for (y <- 0 until 4; x <- 0 until 4)
      assert((resized.getRGB(x, y) & 0xFFFFFF) ==
        (src.getRGB(x * 32 / 4, y * 48 / 4) & 0xFFFFFF),
        s"pixel ($x,$y) not the nearest-neighbor source pixel")
    // corrupt bytes quarantine to null columns, not a crash
    val bad = Multimodal.resizeImages(
      media.withColumn("bytes", lit(Array[Byte](9, 9, 9))), 4, 4).collect().head
    assert(bad.isNullAt(5) && bad.isNullAt(1))
  }

  test("multimodal: WAV decode recovers the exact synthesized PCM energy envelope") {
    import graft.operators.Multimodal
    // WAV is lossless 16-bit PCM, so the decoded windowed RMS must equal
    // the RMS computed DIRECTLY from the synthesis formula — bit-for-bit
    // through the same double arithmetic, no tolerance needed
    val (id, sr, n, dim) = (7L, 8000, 1600, 8)
    val wav = Multimodal.wavBytes(id, sr, n)
    val decoded = Multimodal.decodeAudioFeatures(wav, dim)
    val freq = 220.0 + (id % 16) * 55.0
    val samples = (0 until n).map { k =>
      val t = k.toDouble / sr
      val amp = (StrictMath.sin(2 * StrictMath.PI * freq * t) * 0.6 +
                 StrictMath.sin(2 * StrictMath.PI * freq * 2 * t) * 0.25) * 0.9
      math.round(amp * Short.MaxValue).toShort / 32768.0
    }
    val expected = (0 until dim).map { w =>
      val in = (0 until n).filter(k => math.min(k * dim / n, dim - 1) == w)
      math.sqrt(in.map(k => samples(k) * samples(k)).sum / in.size).toFloat
    }
    assert(decoded.toSeq == expected)
    // a ~0.57-amplitude two-harmonic tone has RMS well inside (0.2, 0.8)
    assert(decoded.forall(v => v > 0.2f && v < 0.8f), decoded.toSeq.toString)
    // quarantine contract: garbage bytes and null both yield null
    assert(Multimodal.decodeAudioFeatures(Array[Byte](9, 9, 9), dim) == null)
    assert(Multimodal.decodeAudioFeatures(null, dim) == null)
    // the DataFrame path routes audio/* mimes through the real decoder
    val media = Multimodal.syntheticAudio(spark.range(0, 10).toDF("id"), "id")
    val viaDf = Multimodal.extractFeatures(media, dim = 8)
      .where($"media_id" === 7).select("features").as[Seq[Float]].collect().head
    // media_id 7 -> nSamples 800 + (7%5)*400 = 1600: same fixture as above
    assert(viaDf == decoded.toSeq)
  }

  test("multimodal: extractFeatures routes video mimes through demux + middle-frame decode") {
    import graft.operators.Multimodal
    val media = Multimodal.syntheticVideo(spark.range(0, 6).toDF("id"), "id")
    val feats = Multimodal.extractFeatures(media, dim = 4)
      .where($"media_id" === 2).select("features").as[Seq[Float]].collect().head
    // media_id 2 -> 4+2%3 = 6 frames; middle frame = index 3, solid gray
    val expected = Multimodal.videoFrameGray(2L, 3) / 255.0f
    assert(feats.forall(v => math.abs(v - expected) < 8 / 255.0f),
      s"$feats vs $expected")
  }

  test("multimodal: animated GIF roundtrips frame count, order, and EXACT grays") {
    import graft.operators.Multimodal
    val gif = Multimodal.gifBytes(5L, nFrames = 6)
    // a real GIF89a container that ImageIO (or any viewer) accepts
    assert(new String(gif.take(6), "US-ASCII") == "GIF89a")
    val frames = Multimodal.decodeGifFrames(gif)
    assert(frames.length == 6)
    for ((img, f) <- frames.zipWithIndex) {
      assert(img.getWidth == 32 && img.getHeight == 24)
      val g = Multimodal.videoFrameGray(5L, f)
      // LOSSLESS: every pixel of every frame is the exact synthesis gray
      val px = img.getRGB(0, 0, 32, 24, null, 0, 32)
      assert(px.forall(p => (p & 0xFFFFFF) == ((g << 16) | (g << 8) | g)),
        s"frame $f expected gray $g")
    }
    // quarantine contract: garbage, null, truncated, and non-GIF bytes
    assert(Multimodal.decodeGifFrames(Array[Byte](1, 2, 3)) == null)
    assert(Multimodal.decodeGifFrames(null) == null)
    assert(Multimodal.decodeGifFrames(Multimodal.aviBytes(1L, 2)) == null)
    // DataFrame path: uniform sampling + exact decoded grays
    val media = Multimodal.syntheticGif(spark.range(0, 8).toDF("id"), "id")
    val rows = Multimodal.sampleFrames(media, nFrames = 4, dim = 4)
      .where($"media_id" === 5).orderBy("frame_index")
      .select("frame_index", "n_frames_total", "features")
      .as[(Int, Option[Int], Seq[Float])].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) ==
      (0 until 4).map(k => (k, Some(4 + 5 % 3))))
    for ((k, Some(total), feats) <- rows) {
      val g = Multimodal.videoFrameGray(5L, k * total / 4)
      assert(feats.forall(v => math.round(v * 255) == g),
        s"sampled frame $k: $feats vs gray $g")
    }
  }

  test("multimodal: AVI demux recovers frame count, order, and JPEG gray levels") {
    import graft.operators.Multimodal
    val avi = Multimodal.aviBytes(5L, nFrames = 6)
    val frames = Multimodal.demuxAviFrames(avi)
    assert(frames.length == 6)
    for ((jf, f) <- frames.zipWithIndex) {
      // every demuxed payload is a real JPEG (SOI marker) ImageIO can decode
      assert((jf(0) & 0xFF) == 0xFF && (jf(1) & 0xFF) == 0xD8, s"frame $f SOI")
      val feats = Multimodal.decodeImageFeatures(jf, 4)
      val expected = Multimodal.videoFrameGray(5L, f) / 255.0f
      // solid-color JPEG roundtrip error is ~2 gray levels; consecutive
      // frames differ by 31, so this also proves ORDER was preserved
      assert(feats.forall(v => math.abs(v - expected) < 8 / 255.0f),
        s"frame $f: ${feats.toSeq} vs $expected")
    }
    // quarantine contract: garbage, null, and truncated containers
    assert(Multimodal.demuxAviFrames(Array[Byte](1, 2, 3)) == null)
    assert(Multimodal.demuxAviFrames(null) == null)
    assert(Multimodal.demuxAviFrames(avi.take(40)) == null)
    // DataFrame path: uniform sampling across the container + real decode
    val media = Multimodal.syntheticVideo(spark.range(0, 8).toDF("id"), "id")
    val rows = Multimodal.sampleFrames(media, nFrames = 4, dim = 4)
      .where($"media_id" === 5).orderBy("frame_index")
      .select("frame_index", "n_frames_total", "features")
      .as[(Int, Int, Seq[Float])].collect()
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(rows.forall(_._2 == 6)) // 4 + 5%3 frames survived the container
    for ((r, k) <- rows.zipWithIndex) {
      val srcFrame = k * 6 / 4 // uniform sample positions 0,1,3,4
      val expected = Multimodal.videoFrameGray(5L, srcFrame) / 255.0f
      assert(r._3.forall(v => math.abs(v - expected) < 8 / 255.0f),
        s"sampled $k (source $srcFrame): ${r._3} vs $expected")
    }
  }

  test("multimodal: frame sampling explodes n frames per media row") {
    val media = Multimodal.syntheticMedia(spark.range(0, 10).toDF("id"), "id")
    val frames = Multimodal.sampleFrames(media, nFrames = 4, dim = 8)
    assert(frames.count() == 40)
    assert(frames.groupBy("media_id").count()
      .select("count").distinct().as[Long].collect().toSeq == Seq(4L))
  }

  test("GraftExtensions installs cosine_similarity via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a NEW session over the shared context, built through the same
      // SparkSessionExtensions hook --conf spark.sql.extensions invokes
      // (the conf form is only read when the SparkCONTEXT is created, so
      // a suite sharing one context must use the builder form)
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      assert(s2 ne prior, "extensions test needs a freshly built session")
      val v = s2.sql(
        """SELECT cosine_similarity(
          |  array(cast(0.6 as float), cast(0.8 as float)),
          |  array(cast(0.6 as float), cast(0.8 as float)))""".stripMargin)
        .head.getDouble(0)
      assert(math.abs(v - 1.0) < 1e-6, s"unit self-cosine was $v")
    } finally {
      // never stop s2 (shared SparkContext); just restore the suite session
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("cosine_similarity native expression matches the JVM kernel, codegen on") {
    val df = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", $"embedding")
    val paired = df.as("A").crossJoin(df.as("B"))
      .where($"A.vec_id" < $"B.vec_id").limit(200)
      .select($"A.embedding".as("ea"), $"B.embedding".as("eb"))
    val exprOut = paired.select(
      org.apache.spark.sql.GraftFunctions.cosine_similarity($"ea", $"eb").as("c"))
      .as[Double].collect()
    val kernelOut = paired.as[(Seq[Float], Seq[Float])].collect()
      .map { case (a, b) => VectorKernels.cosineF(a.toArray, b.toArray) }
    exprOut.zip(kernelOut).foreach { case (e, k) =>
      assert(math.abs(e - k) < 1e-12, s"$e vs $k") }
    // SQL registration path
    org.apache.spark.sql.GraftFunctions.register(spark)
    val sqlOut = paired.createOrReplaceTempView("pairs_cos")
    val viaSql = spark.sql("SELECT cosine_similarity(ea, eb) FROM pairs_cos")
      .as[Double].collect()
    assert(viaSql.length == exprOut.length)
    // the expression must stay inside whole-stage codegen (no fallback):
    // assert on a plain scan+project plan (no AQE/limit interference)
    val simple = df.select(
      org.apache.spark.sql.GraftFunctions.cosine_similarity($"embedding", $"embedding"))
    // "*(n)" prefixes mark WholeStageCodegen membership in plan toString
    val plan = simple.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosinesimilarity"), plan)
    assert(simple.as[Double].collect().forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("vector kernels: cosine/add/scale hand values") {
    import org.apache.spark.ml.linalg.Vectors
    val a = Vectors.dense(1.0, 2.0, 3.0)
    val b = Vectors.dense(4.0, 5.0, 6.0)
    assert(math.abs(VectorKernels.cosine(a, b) - 0.9746318) < 1e-6)
    assert(VectorKernels.add(a, b).toArray.toSeq == Seq(5.0, 7.0, 9.0))
    assert(VectorKernels.scale(a, 2.0).toArray.toSeq == Seq(2.0, 4.0, 6.0))
    val sa = Vectors.sparse(4, Array(0, 2), Array(1.0, 1.0))
    val sb = Vectors.sparse(4, Array(2, 3), Array(1.0, 1.0))
    assert(math.abs(VectorKernels.cosine(sa, sb) - 0.5) < 1e-9)
  }

  test("vector kernels: netlib fast path is exact below threshold, tolerance-close above") {
    val rnd = new java.util.Random(11)
    // below blasDimThreshold the fast kernels must be THE scalar kernels
    // (this is what keeps every 64-dim oracle fixture bit-exact)
    val a64 = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val b64 = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    assert(VectorKernels.dotFFast(a64, b64) == VectorKernels.dotF(a64, b64))
    assert(VectorKernels.normFFast(a64) == VectorKernels.normF(a64))
    // at real embedding dims the fast path may diverge only in the last
    // ulps; argmax consumers must still pick the same centroid
    val dim = 1024
    val q = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val cents = Array.fill(24)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    for (c <- cents) {
      val exact = VectorKernels.dotF(q, c)
      val fast = VectorKernels.dotFFast(q, c)
      assert(math.abs(fast - exact) <= 1e-4 * (1.0 + math.abs(exact)),
        s"fast=$fast exact=$exact")
    }
    val scalarArgmax = cents.indices.maxBy(i =>
      (VectorKernels.dotF(q, cents(i)), -i))
    assert(VectorKernels.argmaxDotF(q, cents) == scalarArgmax)
  }

  test("tweet cleaner: emoticons/mentions/links replaced, offsets preserved by url scrub") {
    val t = "lol :) thanks @bob see https://x.io/a?b=1 or www.y.com :("
    val cleaned = TextKernels.cleanTweet(t)
    assert(cleaned == "lol _positive_ thanks _mention_ see _link_ or _link_ _negative_")
    val scrubbed = TextKernels.scrubUrlsPreserveOffsets(t)
    assert(scrubbed.length == t.length)
    assert(scrubbed.indexOf("thanks") == t.indexOf("thanks"))
    assert(!scrubbed.contains("www.") && !scrubbed.contains("https"))
  }

  test("polyHash64Mixed: every bit position is balanced over a token corpus") {
    // the r4 regression: raw polyHash64 left bits >= ~34 constant for short
    // tokens, collapsing SimHash's high pigeonhole block into one bucket.
    // Guard: over a realistic short-token vocabulary, every one of the 64
    // bit positions must actually vary (and roughly balance).
    val tokens = (for {
      a <- 'a' to 'z'; b <- 'a' to 'z'
    } yield s"$a$b") ++ Seq("the", "quick", "brown", "fox", "engine", "data")
    val counts = new Array[Int](64)
    tokens.foreach { t =>
      val h = graft.functions.TextKernels.polyHash64Mixed(t)
      (0 until 64).foreach(i => if (((h >>> i) & 1L) == 1L) counts(i) += 1)
    }
    val n = tokens.size
    (0 until 64).foreach { i =>
      val ratio = counts(i).toDouble / n
      assert(ratio > 0.35 && ratio < 0.65,
        s"bit $i set in ${counts(i)}/$n tokens — not avalanched")
    }
  }

  test("text kernels: simplify folds accents, bounded levenshtein is exact") {
    assert(TextKernels.simplify("Crème Brûlée Œuvre") == "creme brulee oeuvre")
    assert(TextKernels.boundedLevenshtein("kitten", "sitting", 3) == 3)
    assert(TextKernels.boundedLevenshtein("abc", "xyz", 1) == 2) // capped at bound+1
    assert(TextKernels.deletionVariants("abc", 1).toSet == Set("abc", "bc", "ac", "ab"))
  }

  test("repetition stats: known fractions on a hand-built document") {
    // "a b a b a" -> tokens 5 (2 distinct), bigrams [a b, b a, a b, b a]
    // (dup frac 0.5, top bigram 'a b' covers 2/4), trigrams
    // [a b a, b a b, a b a] (dup frac 1/3)
    val df = Seq((1L, "a b a b a"), (2L, "x y z")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(df, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, Int, Double, Double, Double, Double)].collect()
    assert(r(0) == ((1L, 5, 1.0 - 2.0 / 5, 0.5, 1.0 - 2.0 / 3, 0.5)))
    assert(r(1) == ((2L, 3, 0.0, 0.0, 0.0, 0.5))) // top bigram 1 of 2
  }

  test("pii scrub replaces emails then phones and meters both") {
    val df = Seq((1L, "mail a.b+c@test.org or 12-345-678-9012 now"),
                 (2L, "nothing to redact")).toDF("id", "text")
    val r = TextAnalysis.scrubPii(df, "text")
      .select("id", "n_emails", "n_phones", "text_scrubbed")
      .orderBy("id").as[(Long, Int, Int, String)].collect()
    assert(r(0) == ((1L, 1, 1, "mail <EMAIL> or <PHONE> now")))
    assert(r(1) == ((2L, 0, 0, "nothing to redact")))
  }

  test("url canonicalization: case, ports, params, fragments, quarantine") {
    import graft.functions.TextKernels.canonicalizeUrl
    assert(canonicalizeUrl("HTTP://Ex.COM:80/A/b?utm_source=x&z=2&a=1#frag")
      == "http://ex.com/A/b?a=1&z=2")
    assert(canonicalizeUrl("https://ex.com:443") == "https://ex.com/")
    assert(canonicalizeUrl("http://ex.com.:8080/p?fbclid=1&flag")
      == "http://ex.com:8080/p?flag")         // non-default port kept,
                                              // valueless param kept
    assert(canonicalizeUrl("http://ex.com/p?a=2&a=1")
      == "http://ex.com/p?a=1&a=2")           // sort by (key, value)
    assert(canonicalizeUrl(null) == null)
    assert(canonicalizeUrl("::notaurl") == null)
    assert(canonicalizeUrl("ftp://ex.com/x") == null)
    assert(canonicalizeUrl("relative/path") == null)
  }

  test("bigram LM quality: add-one smoothing, unseen bigrams, short docs null") {
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // cbg: (a,b)->3, (b,a)->1, (b,c)->1; cprev: a->3, b->2; V=3
    val docs = corpus.union(Seq((3L, "c c"), (4L, "z")).toDF("doc_id", "text"))
    val out = graft.operators.TextAnalysis
      .bigramQuality(docs, corpus, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Option[Double], Option[Long])].collect().toSeq
    val lpAB = math.log(4.0 / 6); val lpBA = math.log(2.0 / 5)
    val lpBC = math.log(2.0 / 5)
    assert(math.abs(out(0)._2.get - (2 * lpAB + lpBA) / 3) < 1e-12)
    assert(math.abs(out(1)._2.get - (lpAB + lpBC) / 2) < 1e-12)
    // (c,c) unseen as bigram AND as bigram-starter: ln((0+1)/(0+3))
    assert(math.abs(out(2)._2.get - math.log(1.0 / 3)) < 1e-12)
    assert(out(3) == ((4L, None, None))) // single token: no bigrams to judge
    assert(out.map(_._3) == Seq(Some(3L), Some(2L), Some(1L), None))
  }

  test("extended pii scrub: ip/card patterns, each metered post-prior-scrubs") {
    val df = Seq(
      (1L, "from 10.0.42.7 pay 4000 1234 5678 9012 or 1111-2222-3333-4444 done"),
      // ip-shaped AND card-shaped digit runs inside an email local part:
      // the email pass collapses them first, so neither is counted/replaced
      (2L, "mail 1.2.3.4@x.org and 1234-5678-9012-3456@y.io end"),
      (3L, "clean")).toDF("id", "text")
    val r = TextAnalysis.scrubPiiExtended(df, "text")
      .select("id", "n_emails", "n_phones", "n_ips", "n_cards", "text_scrubbed")
      .orderBy("id").as[(Long, Int, Int, Int, Int, String)].collect()
    assert(r(0) == ((1L, 0, 0, 1, 2, "from <IP> pay <CARD> or <CARD> done")))
    assert(r(1) == ((2L, 2, 0, 0, 0, "mail <EMAIL> and <EMAIL> end")))
    assert(r(2) == ((3L, 0, 0, 0, 0, "clean")))
  }

  test("temperature mix: integer quotas and hash-ordered admission") {
    // sources: A has ids 1..9 (isqrt 3), B has id 10 (isqrt 1); target 4
    // with tw=4 -> quota A = min(9, 4*3/4) = 3, B = min(1, 1) = 1
    val df = ((1L to 9L).map(i => (i, "A")) :+ ((10L, "B")))
      .toDF("doc_id", "source")
    val kept = graft.operators.Sampling
      .temperatureMix(df, "doc_id", "source", targetSize = 4, weight = "sqrt")
      .as[(Long, String)].collect().toSet
    val expectA = (1L to 9L).sortBy(i => (TextKernels.mix64(i), i)).take(3)
    assert(kept == (expectA.map(i => (i, "A")) :+ ((10L, "B"))).toSet)
    // uniform weights: tw=2, quotas = min(n, 4*1/2 = 2) each
    val uni = graft.operators.Sampling
      .temperatureMix(df, "doc_id", "source", targetSize = 4, weight = "uniform")
      .as[(Long, String)].collect()
    assert(uni.count(_._2 == "A") == 2 && uni.count(_._2 == "B") == 1)
  }

  test("bpe training: frequency-weighted merges, greedy-leftmost application") {
    import graft.operators.BpeTrainer.{train, Merge}
    // words: aa (freq 2), ab (freq 1) -> (a,a) wins with 2, then (a,b)
    val df = Seq("aa aa ab").toDF("text")
    assert(train(df, "text", 5) ==
      Seq(Merge(1, "a", "a", 2), Merge(2, "a", "b", 1)))
    // "aaa": greedy leftmost pairs the FIRST two a's -> [aa, a] -> [aaa];
    // early-stop when one symbol remains
    val df2 = Seq("aaa").toDF("text")
    assert(train(df2, "text", 5) ==
      Seq(Merge(1, "a", "a", 2), Merge(2, "aa", "a", 1)))
  }

  test("bpe apply: learned merges segment the corpus, pieces counted per row") {
    import graft.operators.BpeTrainer
    val df = Seq((1L, "aa aa ab"), (2L, "b b")).toDF("doc_id", "text")
    val merges = BpeTrainer.train(df, "text", 5)
    val counts = BpeTrainer.segmentCounts(df, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    // merges (a,a) then (a,b): "aa"->1 piece, "ab"->1 ("a","b" merged via
    // rank-2), "b"->1 -> doc 1 = 3 pieces, doc 2 = 2
    assert(counts == Map(1L -> 3L, 2L -> 2L))
  }

  test("bpe: 256-rank merge table applies in one pass; exotic symbols survive") {
    import graft.operators.BpeTrainer
    import graft.operators.BpeTrainer.Merge
    // deterministic corpus with enough pair diversity to sustain deep
    // vocabularies: 200 distinct "words" from a seeded 4-letter alphabet
    val words = (0 until 200).map { i =>
      val s = new StringBuilder
      var x = i * 2654435761L
      (0 until 6 + (i % 5)).foreach { _ =>
        s += ('a' + ((x >>> 16) % 4).toInt).toChar; x = x * 6364136223846793005L + 1442695040888963407L
      }
      s.toString
    }
    val df = Seq(words.mkString(" ")).toDF("text")
    val merges = BpeTrainer.train(df, "text", 256)
    assert(merges.nonEmpty && merges.size <= 256)
    // plan-depth check: segmentCounts applies the WHOLE table through one
    // UDF — the analyzed plan must not grow with the merge count
    val seg = BpeTrainer.segmentCounts(
      df.select(lit(1L).as("doc_id"), col("text")), "doc_id", "text", merges)
    val planLines = seg.queryExecution.analyzed.toString.linesIterator.size
    assert(planLines < 40, s"plan grew with merge count: $planLines lines")
    assert(seg.as[(Long, Long)].collect().head._2 >= 200)
    // sequential-rank semantics: applying the table must equal applying
    // each merge one pass at a time in rank order
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val pairs = merges.map(m => m.rank -> ((m.left, m.right))).toMap
    words.take(50).foreach { w =>
      val fast = BpeTrainer.applyMerges(w, ranks, pairs)
      val slow = merges.sortBy(_.rank).foldLeft(
        w.map(_.toString).toIndexedSeq)((s, m) => BpeTrainer.mergeOnePass(s, m.left, m.right))
      assert(fast == slow, s"divergence on $w")
    }
    // exotic symbols: a token containing U+001F (the old fold's separator)
    // and a supplementary-plane emoji segment without corruption
    val exotic = Seq((1L, "ab 😀x 😀x"))
      .toDF("doc_id", "text")
    val em = BpeTrainer.train(exotic, "text", 3)
    // the emoji-x word (freq 2) wins round 1 as a single 2-codepoint pair
    assert(em.head == Merge(1, "😀", "x", 2))
    val segEx = BpeTrainer.segmentCounts(exotic, "doc_id", "text", em)
      .as[(Long, Long)].collect().toMap
    // after merges the emoji words are 1 piece each; ab collapses
    // via learned merges too (3 chars, up to 2 merges applied)
    assert(segEx(1L) == 3L)
  }

  test("ngramJaccard equals brute force on random corpora, including exact-boundary pairs") {
    // seeded random word-salad over a tiny vocab plus PLANTED boundary
    // pairs whose jaccard is EXACTLY the threshold — the case an
    // unguarded float ceil in the candidate filters silently drops
    // (35 * 0.8 = 28.000000000000004 -> ceil 29)
    val rnd = new scala.util.Random(7)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val randomDocs = (1L to 30L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // planted: doc 101's distinct trigram set (28 grams) fully inside doc
    // 102's (35 grams): jaccard = 28/35 = 0.8 exactly
    val w = (1 to 37).map(k => s"w$k") // 37 tokens -> 35 distinct trigrams
    val planted = Seq((101L, w.take(30).mkString(" ")), // 28 trigrams
      (102L, w.mkString(" ")))
    for (t <- Seq(0.5, 0.8)) {
      val df = (randomDocs ++ planted).toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .ngramJaccardPairs(df, "text", "doc_id", n = 3, minJaccard = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // brute force over exact distinct-gram sets in plain Scala
      val gramSets = (randomDocs ++ planted).map { case (id, text) =>
        val toks = text.split(" ")
        val gs = (if (toks.length < 3) Seq(toks.mkString(" "))
          else toks.sliding(3).map(_.mkString(" ")).toSeq).toSet
        (id, gs)
      }
      val want = (for {
        (ia, ga) <- gramSets; (ib, gb) <- gramSets if ia < ib
        i = (ga & gb).size
        if i.toDouble / (ga.size + gb.size - i) >= t
      } yield (ia, ib)).toSet
      assert(got == want, s"t=$t: missing ${want -- got}, extra ${got -- want}")
      if (t == 0.8) assert(want.contains((101L, 102L)), "planted boundary pair lost")
    }
  }

  test("connected components: chains merge, separate clusters stay apart") {
    // chain 1-2-3 (transitive: pair (1,3) is absent) + island pair (10,11)
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // a longer path needs multiple propagation rounds to converge; force
    // the DISTRIBUTED fixpoint (driverThreshold = 0) so both paths are
    // exercised, and assert it equals the driver union-find fast path
    val path = (1L to 8L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val distributed = graft.operators.Dedup
      .connectedComponents(path, "id_a", "id_b", driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    val fast = graft.operators.Dedup
      .connectedComponents(path, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(distributed == (1L to 8L).map(_ -> 1L).toMap)
    assert(fast == distributed)
  }

  test("star contraction: high-diameter path, random graph, and isolated pairs") {
    import graft.operators.Dedup
    // diameter-63 path: label propagation needs ~63 rounds, star
    // contraction must finish in far fewer (O(log² n)); ids reversed and
    // sparse so the min is at the FAR end and ids are non-dense
    val path = (1L to 64L).sliding(2).map(s => (s.head * 7, s.last * 7))
      .toSeq.toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(path, "id_a", "id_b", maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(star == (1L to 64L).map(i => (i * 7, 7L)).toMap)
    // random graph with several components: equality with the union-find
    // fast path of the default implementation
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val viaStar = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val viaProp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaProp)
    // self-pairs only: node survives with component = self
    val selfOnly = Seq((5L, 5L), (9L, 9L)).toDF("id_a", "id_b")
    val s2 = Dedup.connectedComponentsStar(selfOnly, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(s2 == Map(5L -> 5L, 9L -> 9L))
  }

  test("star contraction: a raise at maxIter leaves no cached state behind") {
    val path = (1L to 64L).sliding(2).map(s => (s.head, s.last))
      .toSeq.toDF("id_a", "id_b")
    val sc = spark.sparkContext
    // earlier tests' pins may be freed meanwhile: compare RDD ids, not counts
    val (entries, rdds) = (org.apache.spark.sql.SqlCacheEntries.count(spark),
      sc.getPersistentRDDs.keySet)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.connectedComponentsStar(path, "id_a", "id_b", maxIter = 1)
    }
    assert(e.getMessage.contains("no fixpoint after 1 rounds"))
    assert(org.apache.spark.sql.SqlCacheEntries.count(spark) == entries,
      "the persisted pairs were left in the SQL cache")
    assert((sc.getPersistentRDDs.keySet -- rdds).isEmpty, "a pin was left persisted")
  }

  test("chunking: sliding windows with overlap, short docs yield one chunk") {
    val df = Seq((1L, "t1 t2 t3 t4 t5 t6 t7"), (2L, "a b")).toDF("doc_id", "text")
    val r = graft.operators.Packing
      .chunkDocuments(df, "text", "doc_id", chunkTokens = 4, overlap = 2)
      .orderBy("doc_id", "chunk_index")
      .as[(Long, Int, String)].collect().toSeq
    // stride 2: starts at tokens 1,3,5 -> ceil((7-2)/2) = 3 chunks
    assert(r == Seq((1L, 0, "t1 t2 t3 t4"), (1L, 1, "t3 t4 t5 t6"),
      (1L, 2, "t5 t6 t7"), (2L, 0, "a b")))
  }

  test("packing: concat-and-chunk assigns seq ids by running token offset") {
    val df = Seq((1L, 3), (2L, 4), (3L, 2), (4L, 6)).toDF("doc_id", "n")
    val r = graft.operators.Packing.packSequences(df, "doc_id", "n", seqLen = 5)
      .orderBy("doc_id")
      .select("doc_id", "seq_id", "seq_offset").as[(Long, Long, Long)].collect().toSeq
    // starts: 0, 3, 7, 9 -> seqs 0,0,1,1; offsets 0,3,2,4
    assert(r == Seq((1L, 0L, 0L), (2L, 0L, 3L), (3L, 1L, 2L), (4L, 1L, 4L)))
  }

  test("packing: sharded two-phase path is bit-identical to the global window") {
    import graft.operators.Packing
    // adversarial id space: non-dense, non-zero-based, heavily skewed into
    // the first shard — boundaries must affect parallelism only, never
    // results
    val rows = (1L to 40L).map(i => (i * 3 + 100, (i % 7 + 1).toInt)) ++
      Seq((5000L, 9), (9999L, 4))
    val df = rows.toDF("doc_id", "n")
    for (shards <- Seq(1, 3, 8, 64)) {
      val direct = Packing.packSequences(df, "doc_id", "n", seqLen = 11)
        .orderBy("doc_id").collect().toSeq
      val sharded = Packing.packSequencesSharded(df, "doc_id", "n",
        seqLen = 11, numShards = shards)
        .orderBy("doc_id").collect().toSeq
      assert(sharded == direct, s"divergence at numShards=$shards")
    }
    // grouped running total: per-group windows reconstructed exactly
    val g = Seq((1L, "a", 3), (2L, "b", 4), (3L, "a", 2), (7L, "b", 6),
      (9L, "a", 1)).toDF("doc_id", "g", "n")
    val viaWindow = g.withColumn("cum",
      sum(col("n")).over(org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("doc_id")
        .rowsBetween(Long.MinValue, 0)))
      .orderBy("doc_id").collect().toSeq
    val viaShards = Packing.runningTotalSharded(g, "doc_id", "n", "cum",
      numShards = 4, groupCols = Seq("g"))
      .orderBy("doc_id").collect().toSeq
    assert(viaShards == viaWindow)
    // empty input keeps the schema and yields no rows
    val empty = Packing.packSequencesSharded(
      df.where(col("doc_id") < 0), "doc_id", "n", seqLen = 11)
    assert(empty.columns.toSeq == Seq("doc_id", "n", "seq_id", "seq_offset"))
    assert(empty.count() == 0)
  }

  test("ntileOf: equals Spark's ntile below, at and off a multiple of buckets") {
    import graft.operators.Packing
    import org.apache.spark.sql.expressions.Window
    val buckets = 5
    // N < buckets, N = buckets, N mod buckets != 0 (and a multiple, above)
    for (n <- Seq(3, 5, 13, 20)) {
      val df = (1 to n).map(i => (i.toLong, (i * 7919 % 101).toLong)).toDF("id", "k")
      val want = df.withColumn("t", ntile(buckets).over(Window.orderBy("k", "id")))
        .select("id", "t").as[(Long, Int)].collect().toMap
      val viaHelper = df
        .withColumn("rk", row_number().over(Window.orderBy("k", "id")))
        .withColumn("n", lit(n.toLong))
        .select(col("id"), Packing.ntileOf("rk", "n", buckets).cast("int"))
        .as[(Long, Int)].collect().toMap
      val viaScan = Packing.ntileSharded(df, "k", buckets, numShards = 3,
          tieCols = Seq("id"))
        .select(col("id"), col("bucket").cast("int")).as[(Long, Int)]
        .collect().toMap
      assert(viaHelper == want, s"helper, N=$n")
      assert(viaScan == want, s"ntileSharded, N=$n")
    }
  }

  test("contamination: overlap counts distinct shared n-grams per train doc") {
    val train = Seq((1L, "a b c d e"), (2L, "p q r s t")).toDF("doc_id", "text")
    val bench = Seq("z z a b c d z", "unrelated words here").toDF("text")
    val r = graft.operators.Contamination
      .overlapReport(train, "doc_id", "text", bench, "text", n = 3, minOverlap = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_overlap", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect()
    // doc 1 shares trigrams "a b c" and "b c d" with the benchmark
    assert(r(0) == ((1L, 3L, 2L, true)))
    assert(r(1) == ((2L, 3L, 0L, false)))
  }

  test("farthestPointsInt8: greedy chain by hand, duplicates never chosen") {
    // quantization-clean directions: (1,0)->(127,0), (0,1)->(0,127),
    // (-1,0)->(-127,0); id 4 duplicates id 1 (distance 0 to the set)
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(-1f, 0f)), (4L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.farthestPointsInt8(vecs, "vec_id", "embedding", k = 3)
      .as[(Int, Long, Option[Long])].collect().sortBy(_._1).toSeq
    // seed = min id; then the far end (254^2); then the orthogonal point
    assert(got == Seq(
      (1, 1L, None),
      (2, 3L, Some(254L * 254L)),
      (3, 2L, Some(2L * 127L * 127L))))
  }

  test("unicodeClean: NFC composes, counters count, homoglyphs flagged") {
    val rows = Seq(
      (1L, "plain ascii text"),
      (2L, "cafe\u0301 nai\u0308ve"), // decomposed: NFC must compose
      (3L, "caf\u00e9"), // precomposed: NFC-stable
      (4L, "p\u0430yp\u0430l scam"), // Cyrillic \u0430 amid Latin
      (5L, "\u0432\u0441\u0451 \u0445\u043e\u0440\u043e\u0448\u043e")) // pure Cyrillic
      .toDF("id", "text")
    val got = TextAnalysis.unicodeClean(rows, "id", "text")
      .as[(Long, String, Boolean, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == (("plain ascii text", false, 0, false)))
    assert(got(2L) == (("caf\u00e9 na\u00efve", true, 2, false)))
    assert(got(3L) == (("caf\u00e9", false, 1, false)))
    assert(!got(4L)._2 && got(4L)._4 && got(4L)._3 == 2)
    assert(!got(5L)._4, "pure Cyrillic is not MIXED script")
  }

  test("packBestFitDecreasing: hand fold, best-fit ties, oversize, shards") {
    import graft.operators.Packing
    // decreasing order: 7(id1) 6(id2) 4(id3) 3(id4) 3(id5) 1(id6), cap 10
    //   7 -> bin0 [7]; 6 -> bin1 [6]; 4 -> best fit is bin1 (6+4=10)
    //   3 -> bin0 [10]; 3 -> bin2 [3]; 1 -> bin2 fits but so does nothing
    //     fuller: bins are [10,10,3] -> bin2 [4]
    val items = Seq((1L, 7L), (2L, 6L), (3L, 4L), (4L, 3L), (5L, 3L), (6L, 1L))
      .toDF("id", "w")
    val got = Packing.packBestFitDecreasing(items, "id", "w", capacity = 10)
      .select("id", "bin_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 2L,
      6L -> 2L), got.toString)
    // best-fit tie (two bins equally full): LOWEST bin id wins
    val tie = Seq((1L, 5L), (2L, 5L), (3L, 2L)).toDF("id", "w")
    val tieGot = Packing.packBestFitDecreasing(tie, "id", "w", capacity = 7)
      .select("id", "bin_id").as[(Long, Long)].collect().toMap
    assert(tieGot == Map(1L -> 0L, 2L -> 1L, 3L -> 0L))
    // oversize items get dedicated flagged bins, never shared
    val big = Seq((1L, 12L), (2L, 12L), (3L, 4L)).toDF("id", "w")
    val bigRows = Packing.packBestFitDecreasing(big, "id", "w", capacity = 10)
      .select("id", "bin_id", "oversized").as[(Long, Long, Boolean)]
      .collect().toSeq
    val byBin = bigRows.groupBy(_._2)
    assert(bigRows.count(_._3) == 2)
    assert(byBin.filter(_._2.exists(_._3)).forall(_._2.size == 1))
    // sharding: valid fills per shard, namespaced bins, deterministic
    // under repartitioning; every item appears exactly once
    val rnd = new scala.util.Random(7)
    val many = Seq.tabulate(400)(i => (i.toLong, 1L + rnd.nextInt(200)))
      .toDF("id", "w")
    val sharded = Packing.packBestFitDecreasing(many, "id", "w",
      capacity = 256, numShards = 4)
    val rows = sharded.as[(Long, Long, Long, Long, Boolean)].collect()
    assert(rows.length == 400 && rows.map(_._1).distinct.length == 400)
    assert(rows.forall { case (_, _, shard, bin, _) => bin >> 40 == shard })
    val fills = rows.groupBy(_._4).map { case (_, g) => g.map(_._2).sum }
    assert(fills.forall(_ <= 256))
    val again = Packing.packBestFitDecreasing(many.repartition(11), "id",
      "w", capacity = 256, numShards = 4)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(again.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
  }
}

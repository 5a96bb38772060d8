package graft

import org.apache.spark.ml.linalg.{SparseVector, Vectors}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Transformers => T, Tuning}

class TransformersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  // FIXTURES.md §6: ArrayHasher invariants
  test("arrayHasher: sparse TF with murmur indices (reference invariants)") {
    val tokens = Seq("This", "is", "the", "best", "on", "the", "earth", "!")
    val df = Seq.fill(10)(tokens).toDF("tokens")
    val out = df.select(T.arrayHasher(2048)($"tokens").as("v"))
      .collect().map(_.getAs[SparseVector]("v"))
    out.foreach { v =>
      assert(v.size == 2048)
      assert(v.indices.length == 7)       // 7 distinct tokens
      assert(v.values.sum == 8.0)         // 8 token occurrences
      assert(v.values.count(_ == 1.0) == 6 && v.values.count(_ == 2.0) == 1)
    }
  }

  test("tag2vector: dictionary by freq desc, multi-hot output, minFreq floor") {
    val df = Seq(Seq("b", "a"), Seq("a", "c"), Seq("a", "b"), Seq("rare"))
      .toDF("tags")
    val model = T.fitTag2Vector(df, "tags", minFreq = 2)
    assert(model.dictionary == Map("a" -> 0, "b" -> 1))   // a:3, b:2, c:1, rare:1
    val vecs = model.transform(df, "tags", "v").select("v")
      .collect().map(_.getAs[SparseVector]("v"))
    assert(vecs(0).indices.toSeq == Seq(0, 1))  // b,a -> both
    assert(vecs(1).indices.toSeq == Seq(0))     // a,c -> a only
    assert(vecs(3).indices.isEmpty)             // rare filtered
  }

  test("addId: sequential ids follow sort order; unordered ids are unique") {
    val df = Seq("c", "a", "b").toDF("x")
    val seq0 = T.addIdSequential(df, "x").orderBy("id")
      .select("x").as[String].collect().toSeq
    assert(seq0 == Seq("a", "b", "c"))
    val ids = T.addIdUnordered(df).select("id").as[Long].collect()
    assert(ids.distinct.length == 3)
  }

  test("sentenceBuilder: hard/soft splits with size bounds") {
    val df = Seq("First phrase. Second one! A very, long phrase here; yes indeed?")
      .toDF("text")
    val out = T.buildSentences(df, "text", minPhraseSize = 2, maxPhraseSize = 4)
      .select("phrase").as[String].collect().toSeq
    assert(out.contains("First phrase") && out.contains("Second one"))
    // the 3rd sentence (7 tokens > max 4) re-splits on soft separators
    assert(out.contains("long phrase here") || out.contains("A very"))
    assert(!out.exists(_.split("\\s+").length > 4))
  }

  test("word2vec applier: doc vector = sum of token embeddings, hit ratio") {
    val docs = Seq((1L, Seq("cat", "dog")), (2L, Seq("cat", "unknown"))).toDF("id", "tokens")
    val lex = Seq(("cat", Seq(1.0, 2.0)), ("dog", Seq(10.0, 20.0))).toDF("token", "vector")
    val out = T.applyWordVectors(docs, "tokens", lex)
      .select("id", "doc_vector", "hit_ratio")
      .as[(Long, Seq[Double], Double)].collect().sortBy(_._1)
    assert(out(0)._2 == Seq(11.0, 22.0) && out(0)._3 == 1.0)
    assert(out(1)._2 == Seq(1.0, 2.0) && out(1)._3 == 0.5)
  }

  test("groupByPolicies: max/min/sum/first + element-wise vector sum") {
    val df = Seq(
      ("k1", 1.0, 5.0, "x", Vectors.dense(1.0, 0.0)),
      ("k1", 3.0, 2.0, "y", Vectors.dense(0.5, 1.0)),
      ("k2", 7.0, 7.0, "z", Vectors.dense(2.0, 2.0)))
      .toDF("k", "a", "b", "s", "v")
    val out = T.groupByPolicies(df, Seq("k"), Seq(
      "a" -> T.PMax, "b" -> T.PSum, "s" -> T.PFirst(Seq("a")), "v" -> T.PVectorSum))
      .orderBy("k").collect()
    assert(out(0).getAs[Double]("a") == 3.0)
    assert(out(0).getAs[Double]("b") == 7.0)
    assert(out(0).getAs[org.apache.spark.ml.linalg.Vector]("v").toArray.toSeq == Seq(1.5, 1.0))
    assert(out(1).getAs[String]("s") == "z")
  }

  test("lemmatize: lexicon hits replaced, misses passed through, order kept") {
    val docs = Seq((1L, Seq("cats", "eat", "mice"))).toDF("id", "tokens")
    val lex = Seq(("cats", "cat"), ("mice", "mouse")).toDF("simplified", "lemma")
    val out = T.lemmatize(docs, "tokens", lex)
      .select("lemmas").as[Seq[String]].collect().head
    assert(out == Seq("cat", "eat", "mouse"))
  }

  test("lemmatizeDisambiguated: POS context beats naive first-lemma") {
    // "saw" is ambiguous: verb "see" vs noun "saw". Naive min(lemma) picks
    // "saw" (a < e); the beam picks by neighbour-POS cosine instead.
    val verb = Seq(0.0, 1.0)
    val noun = Seq(1.0, 0.0)
    val lex = Seq(
      ("we", "we", verb),        // pronoun primes a following verb
      ("a", "a", noun),          // article primes a following noun
      ("saw", "see", verb),
      ("saw", "saw", noun)).toDF("simplified", "lemma", "pos")
    val docs = Seq(
      (1L, Seq("we", "saw")),
      (2L, Seq("a", "saw")),
      (3L, Seq("we", "saw", "unknowntoken"))).toDF("id", "tokens")
    val naive = T.lemmatize(docs, "tokens",
      lex.select("simplified", "lemma"))
      .orderBy("id").select("lemmas").as[Seq[String]].collect()
    val smart = T.lemmatizeDisambiguated(docs, "tokens", lex)
      .orderBy("id").select("lemmas").as[Seq[String]].collect()
    assert(naive(0) == Seq("we", "saw"), "naive min-lemma baseline changed")
    assert(smart(0) == Seq("we", "see"), s"verb context failed: ${smart(0)}")
    assert(smart(1) == Seq("a", "saw"), s"noun context failed: ${smart(1)}")
    assert(smart(2) == Seq("we", "see", "unknowntoken"),
      s"unknown passthrough failed: ${smart(2)}")
  }

  test("array lookups: caller columns named like scratch ids keep their values") {
    val docs = Seq((1L, Seq("cats", "dog"), 40L, 50L), (2L, Seq("eat"), 41L, 51L))
      .toDF("id", "tokens", "_wid_", "_lmid_")
    val vecs = Seq(("dog", Seq(2.0))).toDF("token", "vector")
    val lex = Seq(("cats", "cat", Seq(1.0))).toDF("simplified", "lemma", "pos")
    def kept(out: org.apache.spark.sql.DataFrame, res: String) = {
      assert(out.columns.toSeq.take(4) == docs.columns.toSeq)
      out.select(col("id"), col("_wid_"), col("_lmid_"), col(res).cast("string"))
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    }
    assert(kept(T.applyWordVectors(docs, "tokens", vecs), "doc_vector") ==
      Seq((1L, 40L, 50L, "[2.0]"), (2L, 41L, 51L, null)))
    assert(kept(T.lemmatize(docs, "tokens", lex.drop("pos")), "lemmas") ==
      Seq((1L, 40L, 50L, "[cat, dog]"), (2L, 41L, 51L, "[eat]")))
    assert(kept(T.lemmatizeDisambiguated(docs, "tokens", lex), "lemmas") ==
      Seq((1L, 40L, 50L, "[cat, dog]"), (2L, 41L, 51L, "[eat]")))
  }

  test("array lookups: a NULL or empty array gets NULL outs") {
    val docs = Seq((1L, Seq("cats")), (2L, Seq.empty[String]), (3L, null))
      .toDF("id", "tokens")
    val vecs = Seq(("cats", Seq(2.0))).toDF("token", "vector")
    val lex = Seq(("cats", "cat", Seq(1.0))).toDF("simplified", "lemma", "pos")
    val w2v = T.applyWordVectors(docs, "tokens", vecs)
      .select(col("id"), col("doc_vector").cast("string"), col("hit_ratio"))
      .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq
    assert(w2v == Seq((1L, "[2.0]", Some(1.0)), (2L, null, None), (3L, null, None)))
    for (out <- Seq(T.lemmatize(docs, "tokens", lex.drop("pos")),
      T.lemmatizeDisambiguated(docs, "tokens", lex))) {
      val got = out.select(col("id"), col("lemmas").cast("string"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, "[cat]"), (2L, null), (3L, null)))
    }
  }

  // FIXTURES.md §3: fold invariants
  test("folds: partition, determinism, group consistency") {
    val df = (1 to 200).map(i => (i.toLong, s"g${i % 20}")).toDF("id", "grp")
    val folds = Tuning.assignFolds(df, 4, seed = 7L)
    val counts = folds.groupBy("fold").count().collect()
    assert(counts.length == 4, "all folds populated")
    assert(folds.count() == 200)
    // deterministic under the same seed
    val again = Tuning.assignFolds(df, 4, seed = 7L)
    assert(folds.select("id", "fold").except(again.select("id", "fold")).count() == 0)
    // different seed shuffles
    val other = Tuning.assignFolds(df, 4, seed = 8L)
    assert(folds.select("id", "fold").except(other.select("id", "fold")).count() > 0)
    // group consistency
    val gf = Tuning.assignFolds(df, 4, seed = 7L, groupByCols = Seq("grp"))
    val perGroup = gf.groupBy("grp").agg(countDistinct("fold").as("nf"))
      .select("nf").as[Long].collect()
    assert(perGroup.forall(_ == 1L))
    // train/test partition with no overlap, no loss
    val (tr, te) = Tuning.trainTest(df, 4, 0, 7L)
    assert(tr.count() + te.count() == 200)
    assert(tr.select("id").intersect(te.select("id")).count() == 0)
    // stable (md5) folds: deterministic, key-consistent, engine-checkable —
    // the JVM replay of fold(id=1, seed=7) must equal Spark's
    val sf = Tuning.assignFoldsStable(df, 4, Seq("id"), seed = 7L)
    val sfAgain = Tuning.assignFoldsStable(df, 4, Seq("id"), seed = 7L)
    assert(sf.select("id", "fold").except(sfAgain.select("id", "fold")).count() == 0)
    assert(sf.groupBy("fold").count().count() == 4)
    val fold1 = sf.where($"id" === 1L).select("fold").as[Int].head()
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest("1|7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fold1 == (java.lang.Long.parseLong(md5hex.take(15), 16) % 4).toInt)
  }

  // FIXTURES.md §4: threshold optimizer exact values
  test("binary optimal evaluator: exact metrics on a handcrafted table") {
    // scores: positives at .9 .8 .7, negatives at .6 .2 .1; one hard
    // negative at .75 and one hard positive at .15
    val df = Seq(
      (1.0, 0.9), (1.0, 0.8), (1.0, 0.7), (1.0, 0.15),
      (0.0, 0.75), (0.0, 0.6), (0.0, 0.2), (0.0, 0.1)).toDF("label", "score")
    val m = Tuning.optimizeThreshold(df, "score", "label", "f1", bins = 100)
    // best threshold ~0.7: tp=3 fp=1 tn=3 fn=1 -> p=.75 r=.75 f1=.75
    assert(m.tp == 3 && m.fp == 1 && m.tn == 3 && m.fn == 1)
    assert(math.abs(m.precision - 0.75) < 1e-9 && math.abs(m.recall - 0.75) < 1e-9)
    assert(math.abs(m.basePrecision - 0.5) < 1e-9 && m.baseRecall == 1.0)
    assert(m.auc > 0.7 && m.auc <= 1.0)
    // constrained target: precision floor 1.0 pushes the threshold above the
    // hard negative at .75, which also excludes the positive at .7 -> tp=2
    val mp = Tuning.optimizeThreshold(df, "score", "label", "precision:1.0", bins = 100)
    assert(mp.fp == 0 && mp.precision == 1.0 && mp.tp == 2)
  }

  test("rawToScore squashes margins into (0,1) monotonically") {
    val df = Seq(-10.0, -1.0, 0.0, 1.0, 10.0).toDF("raw")
    val s = Tuning.rawToScore(df, "raw").select("score").as[Double].collect().toSeq
    assert(s == s.sorted)
    assert(s.forall(x => x > 0 && x < 1))
    assert(math.abs(s(2) - 0.5) < 1e-9)
  }

  test("rankSplit: folds follow the aggregated metric order") {
    val df = Seq(("a", 1.0), ("a", 1.0), ("b", 10.0), ("b", 10.0),
      ("c", 100.0), ("d", 1000.0)).toDF("g", "m")
    val out = Tuning.rankSplit(df, Seq("g"), "m", "sum", 2)
    val byGroup = out.select("g", "fold").distinct().as[(String, Int)]
      .collect().toMap
    assert(byGroup("a") == 0 && byGroup("d") == 1)
  }
}

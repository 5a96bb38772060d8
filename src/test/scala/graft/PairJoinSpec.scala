package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextKernels, VectorKernels}
import graft.operators.{Dedup, Guards, Multimodal, PairJoin, Similarity}

/** [[PairJoin]], the bucket-keyed pair join behind the LSH-family and
  * cluster pair lanes: forced-hot buckets (a bucket over
  * [[PairJoin.GridTarget]] rows on one or both sides, so the grid path runs)
  * against Scala brute force, the hamming lane's block layouts, the guard,
  * driver actions per lane build, and no cached state left behind. */
class PairJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private val hotRows = 1200L
  assert(hotRows > PairJoin.GridTarget)

  /** Every (a, b, extra...) with a < b for which `pair` gives the extra
    * columns. */
  private def bruteForce[T](rows: Seq[(Long, T)])(
      pair: (T, T) => Option[Seq[Any]]): Set[Seq[Any]] =
    (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      extra <- pair(va, vb)
    } yield Seq[Any](ia, ib) ++ extra).toSet

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // (id, key, payload): ids 1..1200 share key 0 (hot), 60 cold ids spread
  // over 15 keys, and ids 1..30 also sit in key 1 so pairs repeat across
  // keys and the distinct has work to do
  private val keyedRows: Seq[(Long, Int, Long)] =
    (1L to hotRows).map(i => (i, 0, i * 7 % 11)) ++
      (2001L to 2060L).map(i => (i, (i % 15).toInt + 1, i * 7 % 11)) ++
      (1L to 30L).map(i => (i, 1, i * 7 % 11))

  test("selfJoin: forced-hot ids-only pairs equal brute force") {
    val keyed = keyedRows.toDF("_id_", "_k_", "v")
    val got = rowsOf(PairJoin.selfJoin(keyed, Seq("_k_"), "spec",
      Guards.DegenerateBucketBound, "none"))
    val keysOf = keyedRows.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
    val want = bruteForce(keysOf.toSeq) { (a, b) =>
      if ((a intersect b).nonEmpty) Some(Nil) else None }
    assert(got.size == want.size)
    assert(got == want)
  }

  test("selfJoin: forced-hot pairs with carried payload equal brute force") {
    val keyed = keyedRows.toDF("_id_", "_k_", "v")
    val got = rowsOf(PairJoin.selfJoin(keyed, Seq("_k_"), "spec",
      Guards.DegenerateBucketBound, "none", payload = Seq("v"),
      verify = Seq(((col("v_a") + col("v_b")) % 3).as("s")),
      keep = col("s") =!= 0))
    val byId = keyedRows.groupBy(_._1).map { case (id, rs) =>
      id -> (rs.map(_._2).toSet, rs.head._3) }
    val want = bruteForce(byId.toSeq) { case ((ka, va), (kb, vb)) =>
      val s = (va + vb) % 3
      if ((ka intersect kb).nonEmpty && s != 0) Some(Seq(s)) else None }
    assert(got.size == want.size)
    assert(got == want)
  }

  test("hashNearDupPairs: forced-hot block equals brute-force hamming") {
    val c = 0x5DEECE66DL
    // hot: one flipped bit in 40..63 leaves block 0 (bits 0..20 of 3
    // blocks) equal on all 1200 rows; cold: scattered hashes plus 1-3 bit
    // neighbours, so the verify keeps some candidates and drops others
    val hot = (1L to hotRows).map(i => (i, Option(c ^ (1L << (40 + i % 24)))))
    val cold = (1L to 40L).flatMap { i =>
      val h = TextKernels.mix64(i)
      Seq((5000L + i, Option(h)), (6000L + i, Option(h ^ (1L << (i % 64)))),
        (7000L + i, Option(h ^ (7L << (i % 60)))))
    }
    val rows = hot ++ cold :+ ((9999L, Option.empty[Long]))
    val got = rowsOf(Multimodal.hashNearDupPairs(rows.toDF("id", "h"), "id",
      "h", maxHamming = 2))
    val want = bruteForce(rows.collect { case (i, Some(h)) => (i, h) }) {
      (a, b) =>
        val d = java.lang.Long.bitCount(a ^ b)
        if (d <= 2) Some(Seq(d)) else None
    }
    assert(got.size == want.size)
    assert(got == want)
  }

  /** The minhash signature, replayed in Scala from its definition. */
  private def minhash(text: String, numHashes: Int, shingleSize: Int): Seq[Long] = {
    val p = 2147483647L
    val toks = text.split(" ", -1)
    val shingles =
      if (toks.length < shingleSize) Seq(toks.mkString(" "))
      else toks.sliding(shingleSize).map(_.mkString(" ")).toSeq
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { sh =>
      val h1 = TextKernels.polyHash64Mixed(sh)
      val b1 = java.lang.Long.remainderUnsigned(h1, p)
      val b2 = java.lang.Long.remainderUnsigned(TextKernels.mix64(h1), p)
      for (i <- 0 until numHashes) sig(i) = math.min(sig(i), (b1 + i * b2) % p)
    }
    sig.toSeq
  }

  test("minHashLshPairs: forced-hot bucket equals brute force") {
    val words = Seq("red", "green", "blue", "cyan", "gold", "gray", "pink")
    val cold = (1 to 60).map { i =>
      (3000L + i, Seq.tabulate(6)(j => words((i / 6 + j * (1 + i % 2)) % 7))
        .mkString(" "))
    }
    val rows = (1L to hotRows).map(i => (i, "one shared boilerplate page")) ++ cold
    val got = rowsOf(Dedup.minHashLshPairs(rows.toDF("id", "text"), "text",
      "id", numHashes = 8, bands = 2, shingleSize = 2, minEstJaccard = 0.5))
    val sigs = rows.map { case (i, t) => (i, minhash(t, 8, 2)) }
    val want = bruteForce(sigs) { (a, b) =>
      val shareBand = a.grouped(4).zip(b.grouped(4)).exists { case (x, y) => x == y }
      val est = a.zip(b).count { case (x, y) => x == y } / 8.0
      if (shareBand && est >= 0.5) Some(Seq(est)) else None
    }
    assert(want.exists(_.head.asInstanceOf[Long] > 3000L), "fixture has no cold pair")
    assert(got.size == want.size)
    assert(got == want)
  }

  private def nearDupDocs = {
    val vocab = (0 until 40).map(i => s"w$i")
    (1 to 150).map { i =>
      val base = Seq.tabulate(12)(j => vocab((i / 5 * 7 + j * 3) % 40))
      (i.toLong, base.updated(i % 12, vocab(i % 40)).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("simHashPairs equals hashNearDupPairs over withSimhash, both block " +
       "layouts") {
    val docs = nearDupDocs
    for (k <- Seq(0, 2, 3, 5)) {
      val a = rowsOf(Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = k))
      val b = rowsOf(Multimodal.hashNearDupPairs(
        Dedup.withSimhash(docs, "text"), "doc_id", "simhash", maxHamming = k))
      assert(a == b, s"k = $k")
      if (k == 5) assert(a.nonEmpty, "fixture has no pair at k = 5")
    }
  }

  test("hashNearDupPairs raises by name past the degenerate-bucket bound") {
    val same = spark.range(Guards.DegenerateBucketBound + 1)
      .select(col("id"), lit(42L).as("h"))
    val e = intercept[IllegalArgumentException] {
      Multimodal.hashNearDupPairs(same, "id", "h", maxHamming = 0)
    }
    assert(e.getMessage.contains("hashNearDupPairs"))
    assert(e.getMessage.contains("degenerate LSH bucket"))
  }

  /** (id, key, payload) rows of one side of [[PairJoin.join]]: `hot` ids in
    * key 0, the first 30 of them again in key 1 (pairs repeat across keys),
    * and 60 cold ids over 10 keys. */
  private def sideRows(hot: Seq[Long]): Seq[(Long, Int, Long)] =
    hot.map(i => (i, 0, i * 7 % 11)) ++ hot.take(30).map(i => (i, 1, i * 7 % 11)) ++
      (hot.head + 3000 until hot.head + 3060).map(i => (i, (i % 10).toInt + 2, i * 7 % 11))

  /** [[PairJoin.join]] with a payload verify and a keep on both ids equals
    * brute force. */
  private def twoSidedEqualsBruteForce(left: Seq[(Long, Int, Long)],
                                       right: Seq[(Long, Int, Long)]): Unit = {
    val got = rowsOf(PairJoin.join(left.toDF("_id_", "_k_", "v"),
      right.toDF("_id_", "_k_", "v"), Seq("_k_"), "spec", ("left", "right"),
      Guards.DegenerateBucketBound, "none", payload = Seq("v"),
      verify = Seq(((col("v_a") + col("v_b")) % 3).as("s")),
      keep = col("s") =!= 0 && (col("id_a") + col("id_b")) % 5 =!= 0))
    val want = (for {
      (ia, ka, va) <- left; (ib, kb, vb) <- right
      if ka == kb && (va + vb) % 3 != 0 && (ia + ib) % 5 != 0
    } yield Seq[Any](ia, ib, (va + vb) % 3)).toSet
    assert(got.size == want.size)
    assert(got == want)
  }

  test("join: one forced-hot side equals brute force") {
    twoSidedEqualsBruteForce(sideRows(1L to 40L), sideRows(10001L to 11200L))
  }

  test("join: both sides forced hot equal brute force") {
    twoSidedEqualsBruteForce(sideRows(1L to 1200L), sideRows(10001L to 11200L))
  }

  test("join raises naming the side over the bound") {
    val left = Seq((1L, 0)).toDF("_id_", "_k_")
    val right = (1L to 20L).map(i => (i, 0)).toDF("_id_", "_k_")
    val e = intercept[IllegalArgumentException] {
      PairJoin.join(left, right, Seq("_k_"), "spec", ("new", "old"), 10L, "none")
    }
    assert(e.getMessage.contains("spec(old side): degenerate LSH bucket (_k_=0) holds 20 rows"))
  }

  /** (id_a, id_b, est_jaccard) when the 8-slot signatures share one of 2
    * bands and agree on at least half their slots. */
  private def minhashPair(a: Seq[Long], b: Seq[Long]): Option[Seq[Any]] = {
    val shareBand = a.grouped(4).zip(b.grouped(4)).exists { case (x, y) => x == y }
    val est = a.zip(b).count { case (x, y) => x == y } / 8.0
    if (shareBand && est >= 0.5) Some(Seq(est)) else None
  }

  test("minHashLshNewVsCorpus: forced-hot corpus bucket equals brute force") {
    val words = Seq("red", "green", "blue", "cyan", "gold", "gray", "pink")
    def cold(first: Long) = (1 to 60).map { i =>
      (first + i, Seq.tabulate(6)(j => words((i / 6 + j * (1 + i % 2)) % 7))
        .mkString(" "))
    }
    val page = "one shared boilerplate page"
    val batch = (1L to 30L).map(i => (i, page)) ++ cold(3000L)
    val corpus = (5001L to 6200L).map(i => (i, page)) ++ cold(7000L)
    val got = rowsOf(Dedup.minHashLshNewVsCorpus(batch.toDF("id", "text"),
      corpus.toDF("id", "text"), "text", "id", numHashes = 8, bands = 2,
      shingleSize = 2, minEstJaccard = 0.5))
    val want = (for {
      (ib, tb) <- batch; (ic, tc) <- corpus
      extra <- minhashPair(minhash(tb, 8, 2), minhash(tc, 8, 2))
    } yield Seq[Any](ib, ic) ++ extra).toSet
    assert(want.exists(_.head.asInstanceOf[Long] > 3000L), "fixture has no cold pair")
    assert(got.size == want.size)
    assert(got == want)
  }

  test("lshTopK: forced-hot candidate set equals brute force") {
    val dim = 8
    val hot = Array.tabulate(dim)(d => 0.5f + 0.01f * d)
    // 1100 identical corpus vectors share every table's bucket; 40 of them
    // query, so only the corpus side of that bucket is over GridTarget
    val corpus = (1L to 1100L).map(i => (i, hot)) ++ (2001L to 2060L).map(i =>
      (i, Array.tabulate(dim)(d => math.sin(i * 0.37 + d * 1.3).toFloat)))
    val queries = corpus.filter { case (i, _) => i <= 40 || i > 2030 }
    val got = Similarity.lshTopK(queries.toDF("id", "vec"), corpus.toDF("id", "vec"),
        "id", "vec", k = Int.MaxValue, dim = dim, bitsPerTable = 3, nTables = 3,
        portablePlanes = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def sig(v: Array[Float]) =
      (0 until 3).map(t => VectorKernels.rademacherSignature(v, 42L, 3, t))
    val want = (for {
      (iq, vq) <- queries; (ic, vc) <- corpus
      if iq != ic && sig(vq).zip(sig(vc)).exists { case (a, b) => a == b }
    } yield (iq, ic)).toSet
    assert(want.exists(_._1 > 2000L), "fixture has no cold candidate")
    assert(got.size == want.size)
    assert(got == want)
  }

  test("semanticDedup: a cluster over GridTarget equals brute force") {
    // families of identical directions (up to scale) pair at cosine ~1;
    // different families sit near cosine 0.6. Cluster 0 (first component
    // +3) holds 1150 rows, cluster 1 (first component -3) 30.
    val rnd = new java.util.Random(7L)
    def families(n: Int, size: Int, sign: Float, label: Int, first: Long) =
      (0 until n).flatMap { f =>
        val dir = sign * 3f +: Array.fill(15)(rnd.nextFloat() * 2 - 1)
        (0 until size).map(m =>
          (first + f * 10 + m, dir.map(_ * (1f + m / 8f)), label))
      }
    val rows = families(230, 5, 1f, 0, 1L) ++ families(10, 3, -1f, 1, 5001L)
    val emb = rows.toDF("id", "vec", "label")
    val cent = Similarity.quantizedLabelCentroids(emb, "vec", "label")
    val got = rowsOf(Similarity.semanticDedup(emb, "id", "vec", cent,
      minCosine = 0.99))
    val want = rows.map { case (id, _, label) =>
      val head = id - (id - 1) % 10
      Seq[Any](id, label, head, id == head)
    }.toSet
    assert(got == want)
  }

  private def vectors =
    (1 to 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i % 4) 1.0f else 0.01f * ((i + d) % 3)))
    }.toDF("id", "vec")

  test("building each ported lane runs exactly one driver action") {
    val docs = nearDupDocs
    val lanes = Seq[(String, () => DataFrame)](
      "simHashPairs" -> (() => Dedup.simHashPairs(docs, "text", "doc_id")),
      "minHashLshPairs" -> (() => Dedup.minHashLshPairs(docs, "text", "doc_id")),
      "cosineNearDupPairs" -> (() => Similarity.cosineNearDupPairs(vectors,
        "id", "vec", minCosine = 0.9, dim = 8, exact = false,
        bitsPerTable = 4, nTables = 4, seed = 7L, portablePlanes = true)),
      "hashNearDupPairs" -> (() => Multimodal.hashNearDupPairs(
        Dedup.withSimhash(docs, "text"), "doc_id", "simhash", maxHamming = 3)),
      "minHashLshNewVsCorpus" -> (() => Dedup.minHashLshNewVsCorpus(
        docs.where(col("doc_id") % 5 === 4), docs.where(col("doc_id") % 5 =!= 4),
        "text", "doc_id")))
    val actions = lanes.map { case (name, build) => name -> DriverActions.during(spark)(build()) }
    assert(actions.forall(_._2 == 1), actions)
  }

  test("building semanticDedup runs three driver actions: the centroid " +
    "collect, the pair join's probe and the components' collect") {
    val v = vectors.withColumn("label", col("id") % 3)
    val cent = Similarity.quantizedLabelCentroids(v, "vec", "label")
    assert(DriverActions.during(spark)(
      Similarity.semanticDedup(v, "id", "vec", cent, minCosine = 0.9)) == 3)
  }

  test("the pair lanes leave no SQL-cache entry") {
    val docs = nearDupDocs
    val v = vectors
    val cache = spark.sharedState.cacheManager
    val leaked = Seq[(String, () => DataFrame)](
        "simHashPairs" -> (() => Dedup.simHashPairs(docs, "text", "doc_id")),
        "minHashLshPairs" -> (() => Dedup.minHashLshPairs(docs, "text", "doc_id")),
        "minHashLshNewVsCorpus" -> (() => Dedup.minHashLshNewVsCorpus(
          docs.where(col("doc_id") % 5 === 4), docs.where(col("doc_id") % 5 =!= 4),
          "text", "doc_id")),
        "semanticDedup" -> (() => Similarity.semanticDedup(v, "id", "vec",
          Similarity.seededCentroids(v, "id", "vec", k = 2), minCosine = 0.9)),
        "lshTopK" -> (() => Similarity.lshTopK(v, v, "id", "vec", 3, dim = 8,
          bitsPerTable = 2, nTables = 4)))
      .filter { case (_, run) =>
        spark.catalog.clearCache()
        run().count()
        !cache.isEmpty
      }.map(_._1)
    assert(leaked.isEmpty, s"cache entries left by $leaked")
  }
}

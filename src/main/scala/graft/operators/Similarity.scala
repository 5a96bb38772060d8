package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorKernels
import graft.operators.Materialize.MaterializeOps

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Two paths:
  *  - `bruteForceTopK`: exact cosine top-k. The corpus side is broadcast
  *    when small; otherwise it's a shuffle join keyed by nothing (cross),
  *    so use it as the *correctness baseline*, not the scale path.
  *  - `lshTopK`: the 100 TB path — random-hyperplane sign signatures
  *    (Charikar '02 cosine LSH) bucket both sides with `nTables`
  *    independent tables; candidates are generated by equi-join on
  *    (table, bucket) and only candidates are scored exactly. Recall is
  *    tuned by (bitsPerTable, nTables); cost is O(candidates), never O(n·m).
  *
  * Cosine arithmetic is double-precision sequential-order dot product, so
  * results are reproducible (and oracle-comparable) across engines.
  */
object Similarity {

  // native codegen'd expression (no boxing/encoder round-trip per pair)
  private def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftFunctions.cosine_similarity(a, b)

  /** Exact cosine top-k: every query row gets its k nearest corpus rows.
    * Output: (queryId, neighborId, cosine, rank). Self-pairs excluded when
    * ids collide.
    *
    * No broadcast hint: a non-equi join is BroadcastNestedLoop either way,
    * and Catalyst auto-broadcasts the corpus when it fits under
    * autoBroadcastJoinThreshold; forcing the hint on a large corpus would
    * OOM the driver. This op is the small-corpus correctness baseline —
    * `lshTopK` is the scale path.
    *
    * Loud pair-volume contract (round 17 — the full-registry sf1 soak
    * measured the self-kNN caller at 232× for 10× data, exactly the
    * nested-loop square): the plan computes |queries|·|corpus| cosines,
    * so it refuses BY NAME past 2^27 pairs (both counts limit-bounded —
    * the probe never scans more than the bound itself to learn the input
    * is too big). Compose [[lshTopK]] candidates + rerank past that. */
  val BruteForcePairBound: Long = 1L << 27

  /** Shared pair-volume probe for the exact nested-loop lanes
    * ([[bruteForceTopK]], [[hardNegatives]]): both counts limit-bounded so
    * the probe never scans more than the bound itself to learn the input
    * is too big, then a raise BY NAME past 2^27 pairs. */
  private def requirePairVolume(lane: String, queries: DataFrame,
                                corpus: DataFrame, scalePath: String): Unit = {
    val capped = (BruteForcePairBound + 1).min(Int.MaxValue).toInt
    val nq = queries.limit(capped).count()
    val nc = corpus.limit(capped).count()
    require(nq * nc <= BruteForcePairBound,
      s"Similarity.$lane: ${nq} query x ${nc} corpus rows = " +
        s"${nq * nc} cosine pairs exceeds the 2^27 exact-lane bound (an " +
        "effective hang: the nested-loop join computes every pair) — " +
        scalePath)
  }

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    requirePairVolume("bruteForceTopK", queries, corpus,
      "generate candidates with lshTopK's bucketing and rerank those")
    // Parallelism.widen (r19): the nested-loop cosine stage streams the
    // query side against the (auto-broadcast) corpus — an under-split
    // query scan serializes EVERY pair's kernel in one task (job-profiled
    // on ln01: one 3.5 s task, 31 cores idle); no-op on well-split inputs
    val q = Parallelism.widen(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv_")),
        col("query_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv_"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cos(col("_qv_"), col("_cv_")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Hard-negative mining for contrastive training: for every query row,
    * the k most-similar corpus rows whose label DIFFERS from the query's —
    * the near-miss examples a retrieval/embedding model learns most from
    * (in-batch random negatives are trivially separable; the informative
    * ones are the nearest wrong-label neighbors).
    *
    * Output: (query_id, query_label, neighbor_id, neighbor_label, rank),
    * rank ordered by cosine desc with neighbor_id tie-break. Cosine itself
    * is deliberately not emitted: ordering by it is engine-stable (the
    * codegen'd kernel and any replay agree on comparisons long before the
    * last ulp matters for these synthetic vectors), emitting it would gate
    * on float formatting instead of on the mined pairs.
    *
    * This is the exact small-corpus form (same nested-loop bound as
    * [[bruteForceTopK]] — Catalyst auto-broadcasts the corpus side when it
    * fits). The 100 TB path is mechanical: generate candidates with
    * [[lshTopK]]'s bucketing at k' > k, anti-filter same-label pairs, and
    * rerank — label filtering composes AFTER candidate generation either
    * way, so the exact form here is the semantics gate for that pipeline. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    requirePairVolume("hardNegatives", queries, corpus,
      "use hardNegativesLsh (bucketed candidates, wrong-label filter, " +
        "exact rerank) past this size")
    // widen: same nested-loop stream-side serialization as bruteForceTopK
    val q = Parallelism.widen(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv_"),
        col(labelCol).as("query_label")), col("query_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv_"),
      col(labelCol).as("neighbor_label"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine", cos(col("_qv_"), col("_cv_")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label", "rank")
  }

  /** The 100 TB path for [[hardNegatives]]: LSH-bucketed candidates →
    * wrong-label filter → exact cosine rerank. Same output schema; recall
    * < 1.0 by construction, same trade as [[lshTopK]] vs
    * [[bruteForceTopK]]. The label filter runs on the ids-only candidate
    * set BEFORE vectors re-join, so same-label near-neighbors (the bulk,
    * in a clustered embedding space) never shuffle their vectors. */
  def hardNegativesLsh(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, labelCol: String, k: Int, dim: Int,
                       bitsPerTable: Int = 12, nTables: Int = 4,
                       seed: Long = 42L,
                       portablePlanes: Boolean = false): DataFrame =
    lshRerank("hardNegativesLsh", queries, corpus, idCol, vecCol,
        Some(labelCol), k, dim, bitsPerTable, nTables, seed, portablePlanes)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label",
        "rank")

  /** Per-vector LSH table signatures: Rademacher ±1 planes from mix64
    * when `portablePlanes` (identical buckets computable in plain SQL —
    * the oracle-gated mode), seeded-Gaussian planes otherwise. */
  private def signatureUdf(dim: Int, bitsPerTable: Int, nTables: Int,
                           seed: Long, portablePlanes: Boolean) = {
    val planes =
      if (portablePlanes) null
      else (0 until nTables).map { t =>
        VectorKernels.hyperplanes(dim, bitsPerTable, seed + t)
      }.toArray
    udf((v: Seq[Float]) => {
      require(v != null, "lsh signature: NULL embedding vector upstream")
      val arr = v.toArray
      if (portablePlanes)
        (0 until nTables).map(t =>
          VectorKernels.rademacherSignature(arr, seed, bitsPerTable, t))
      else planes.indices.map(t => VectorKernels.signSignature(arr, planes(t)))
    })
  }

  /** LSH-bucketed ANN top-k. Same output schema as bruteForceTopK; recall
    * < 1.0 by construction (candidates limited to shared buckets). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, bitsPerTable: Int = 12,
              nTables: Int = 4, seed: Long = 42L,
              portablePlanes: Boolean = false): DataFrame =
    lshRerank("lshTopK", queries, corpus, idCol, vecCol, None, k, dim,
        bitsPerTable, nTables, seed, portablePlanes)
      .select("query_id", "neighbor_id", "cosine", "rank")

  /** The lane behind [[lshTopK]] and [[hardNegativesLsh]]: candidates are
    * the (query, corpus) pairs of distinct ids sharing a (table, bucket),
    * from [[PairJoin.join]] — with differing labels when `labelCol` is
    * set — then the top `k` by exact cosine per query. Candidates carry
    * ids and labels only: a pair sharing several tables would otherwise
    * shuffle both vectors once per collision through the distinct, so
    * vectors re-join once per unique pair. Output: query_id, neighbor_id,
    * cosine, rank, plus query_label and neighbor_label with `labelCol`. */
  private def lshRerank(op: String, queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String,
                        labelCol: Option[String], k: Int, dim: Int,
                        bitsPerTable: Int, nTables: Int, seed: Long,
                        portablePlanes: Boolean): DataFrame = {
    val labels = labelCol.map(col(_).as("_lbl")).toSeq
    def bucketed(df: DataFrame) = lshBuckets(df, idCol, vecCol, dim,
      bitsPerTable, nTables, seed, portablePlanes, labels: _*)
    val (payload, verify, keep) =
      if (labelCol.isEmpty) (Nil, Nil, col("id_a") =!= col("id_b"))
      else (Seq("_lbl"),
        Seq(col("_lbl_a").as("query_label"), col("_lbl_b").as("neighbor_label")),
        col("id_a") =!= col("id_b") &&
          col("query_label") =!= col("neighbor_label"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    PairJoin.join(bucketed(queries), bucketed(corpus),
        Seq("_table_", "_bucket_"), op, ("query", "corpus"),
        Guards.DegenerateBucketBound,
        s"size bitsPerTable with the corpus — autoBits(n) gives " +
          s"log2(n / targetBucket); current bitsPerTable = $bitsPerTable " +
          "is too coarse for this corpus", payload, verify, keep)
      .withColumnRenamed("id_a", "query_id")
      .withColumnRenamed("id_b", "neighbor_id")
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv_")),
        "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv_")),
        "neighbor_id")
      .withColumn("cosine", cos(col("_qv_"), col("_cv_")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= min).
    *
    * exact = true: matrix-block kernel — the normalized corpus is collected
    * and broadcast once (same memory bound as any broadcast join), and each
    * partition streams its rows against the in-memory matrix with tight
    * primitive loops. O(n*m*dim) FLOPs with zero per-pair row machinery —
    * orders of magnitude faster than materializing the pair join, and the
    * partitioned side still scales out. exact = false: LSH-bucketed
    * candidates for when neither side fits a broadcast.
    *
    * SCALE KNOB (sf1-soak-measured, round 16): with FIXED `bitsPerTable`
    * the LSH path is quadratic in corpus size — bucket occupancy grows
    * with n, and within-bucket pairing is occupancy². Size
    * `bitsPerTable ~ log2(n / targetBucketSize)` so occupancy stays
    * constant — that is exactly [[autoBits]]: at 20k vectors, bits
    * 4 → 10 took the pair join from 385 s to 13 s (16 tables,
    * local[32]); the recall cost of finer buckets is compensated by
    * `nTables`. The oracle-gated demo query pins bits = 4 at its fixed
    * scale; production callers pass `autoBits(corpusRowCount)`.
    *
    * The LSH lane takes its candidates from [[PairJoin.selfJoin]] on
    * (table, bucket) and raises by name, pointing at [[autoBits]], when
    * any bucket exceeds `degenerateBucketBound`
    * ([[Guards.DegenerateBucketBound]], 2^20) — the sf1 soak measured
    * this lane 164.8x-quadratic at under-sized bits. `<= 0` opts out. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double, dim: Int,
                         exact: Boolean = false, bitsPerTable: Int = 10,
                         nTables: Int = 6, seed: Long = 7L,
                         portablePlanes: Boolean = false,
                         degenerateBucketBound: Long =
                           Guards.DegenerateBucketBound): DataFrame = {
    if (exact) {
      val spark = df.sparkSession
      import spark.implicits._
      // widen: the matrix-block kernel streams partitions against the
      // broadcast corpus — one input split would serialize all O(n·m·dim)
      // FLOPs in a single task (no-op on well-split scans)
      val normed = Parallelism.widen(
          df.select(col(idCol).cast("long"), col(vecCol)), col(idCol))
        .as[(Long, Array[Float])]
        .map { case (id, v) =>
          val n = VectorKernels.normF(v)
          val u = if (n == 0) v else v.map(x => (x / n).toFloat)
          (id, u)
        }
      // loud small-corpus contract: this lane collects + broadcasts the
      // whole corpus by design (the correctness baseline); at 100 TB that
      // is a driver OOM hours in, so refuse by name first. The probe is a
      // limit-bounded count of the input: it runs neither the widening
      // exchange nor the normalization, which the collect runs once
      val bound = 1L << 21
      require(df.select(col(idCol)).limit((bound + 1).toInt).count() <= bound,
        s"cosineNearDupPairs(exact=true) collects the corpus to the " +
          s"driver; more than $bound rows exceed the 2^21 small-corpus " +
          "bound — use the LSH lane (exact=false)")
      val corpus = normed.collect().sortBy(_._1)
      val bc = spark.sparkContext.broadcast(corpus)
      val thr = minCosine
      normed.mapPartitions { it =>
        val mat = bc.value
        // dotF (double-accumulated sequential), NOT dotFFast: the netlib
        // float path at dim >= 512 carries ~1e-4 error, silently flipping
        // threshold-adjacent pairs relative to the LSH lane's codegen'd
        // double cosine and any oracle replay — both lanes of the SAME
        // operator must classify identically
        it.flatMap { case (ida, va) =>
          mat.iterator
            .filter(_._1 > ida)
            .map { case (idb, vb) => (ida, idb, VectorKernels.dotF(va, vb)) }
            .filter(_._3 >= thr)
        }
      }.toDF("id_a", "id_b", "cosine")
    } else {
      // ids-only candidate dedup (see lshRerank): vectors join back once
      // per unique pair instead of riding the multi-table collision shuffle
      val sig = lshBuckets(df, idCol, vecCol, dim, bitsPerTable, nTables,
        seed, portablePlanes)
      PairJoin.selfJoin(sig, Seq("_table_", "_bucket_"),
        "cosineNearDupPairs(exact=false)", degenerateBucketBound,
        s"size bitsPerTable with the corpus — autoBits(n) gives " +
          s"log2(n / targetBucket); current bitsPerTable = $bitsPerTable " +
          "is too coarse for this corpus (or pass " +
          "degenerateBucketBound = 0 to accept the cost)")
        .join(df.select(col(idCol).as("id_a"), col(vecCol).as("_qv_")), "id_a")
        .join(df.select(col(idCol).as("id_b"), col(vecCol).as("_cv_")), "id_b")
        .withColumn("cosine", cos(col("_qv_"), col("_cv_")))
        .where(col("cosine") >= minCosine)
        .select("id_a", "id_b", "cosine")
    }
  }

  /** IVF (inverted-file) ANN top-k — the third scale path alongside
    * brute-force and LSH, mirroring FAISS's IVF-Flat structure on Spark:
    *
    *  1. TRAIN: k-means centroids fitted on a bounded hash-sample of the
    *     corpus (driver-side Lloyd's — centroid count is small by design).
    *  2. ASSIGN: every corpus vector goes to its nearest centroid's cell —
    *     one narrow map, cells become the shuffle key.
    *  3. PROBE: each query explodes to its `nProbe` nearest cells; an
    *     equi-join on cell_id gathers candidates; exact cosine reranks.
    *
    * vs LSH: IVF adapts to the data distribution (centroids follow density;
    * random hyperplanes don't), giving better recall per candidate at the
    * cost of the training pass. Cost is O(candidates) = O(q · nProbe ·
    * cellSize), never O(n·m). Recall is tuned by nProbe.
    *
    * `portableCentroids = true` swaps the trained centroids for fixed
    * Rademacher ±1 pseudo-centroids (`VectorKernels.rademacherCellScore`):
    * all centroids share norm √dim, so argmax raw-dot == argmax cosine
    * with no normalization anywhere, and the ENTIRE operator — assign,
    * probe, rerank — is replayable in plain SQL (the ann04 oracle). The
    * trained path keeps better recall-per-candidate on clustered data;
    * the portable path gates the assign/probe/rerank machinery exactly. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 64, nProbe: Int = 8,
              seed: Long = 42L, trainSample: Int = 4096,
              lloydIters: Int = 8, portableCentroids: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (portableCentroids) {
      val (nc, np, sd) = (nCells, nProbe, seed)
      val cellUdf = udf { (v: Seq[Float]) =>
        require(v != null, "ivfTopK: NULL embedding vector upstream")
        val arr = v.toArray
        var best = 0; var bestS = Double.NegativeInfinity
        var c = 0
        while (c < nc) {
          val s = VectorKernels.rademacherCellScore(arr, sd, c)
          if (s > bestS) { bestS = s; best = c } // strict >: ties to lower c
          c += 1
        }
        best
      }
      val probeUdf = udf { (v: Seq[Float]) =>
        require(v != null, "ivfTopK: NULL query vector upstream")
        val arr = v.toArray
        (0 until nc).map(c => (VectorKernels.rademacherCellScore(arr, sd, c), c))
          .sortBy(t => (-t._1, t._2)).take(np).map(_._2)
      }
      return probeJoin(queries, corpus, idCol, vecCol, k, cellUdf, probeUdf)
    }
    // --- train: CONTENT-DEFINED sample, driver Lloyd's on unit vectors.
    // takeOrdered by the id-hash, not take() after a hash gate: take()
    // drains the FIRST partitions, so on a date/source-ordered corpus the
    // old sample modeled one slice (recall collapse elsewhere) and two
    // runs with different file-split layouts trained different centroids.
    // Ranking by byteswap64(id ^ seed) — a bijection, so keys are unique
    // and the ordering total — makes the sample a uniform, layout- and
    // retry-independent function of the DATA alone.
    val sample = corpus
      .select(col(idCol).cast("long").as("_id_"), col(vecCol).as("_v_"))
      .as[(Long, Array[Float])]
      .rdd
      .map { case (id, v) =>
        (scala.util.hashing.byteswap64(id ^ seed), VectorKernels.unitF(v))
      }
      .takeOrdered(trainSample)(Ordering.by(_._1))
      .map(_._2)
    require(sample.nonEmpty,
      s"ivfTopK: empty training sample — corpus is empty or '$idCol' " +
        "values are not castable to long")
    val dim = sample.head.length
    var centroids = Array.tabulate(math.min(nCells, sample.length)) { i =>
      sample(i * sample.length / math.min(nCells, sample.length))
    }
    for (_ <- 0 until lloydIters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val c = VectorKernels.argmaxDotF(v, centroids)
        counts(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else VectorKernels.unitF(sums(c).map(_.toFloat))
      }.toArray
    }
    val bc = spark.sparkContext.broadcast(centroids)
    // --- assign corpus rows to cells (narrow map; cell is the join key)
    val cellUdf = udf { (v: Seq[Float]) =>
      VectorKernels.argmaxDotF(VectorKernels.unitF(v.toArray), bc.value)
    }
    val probeUdf = udf { (v: Seq[Float]) =>
      val u = VectorKernels.unitF(v.toArray)
      bc.value.indices
        .map(c => (VectorKernels.dotF(u, bc.value(c)), c))
        .sortBy(t => (-t._1, t._2)).take(nProbe).map(_._2)
    }
    probeJoin(queries, corpus, idCol, vecCol, k, cellUdf, probeUdf)
  }

  /** Shared IVF tail: assign corpus rows to cells (narrow map; cell is the
    * join key), explode queries to their probe cells, equi-join on cell,
    * exact-cosine rerank on candidates only. Each corpus row lives in
    * exactly ONE cell, so a (query, neighbor) pair appears at most once —
    * no dedup shuffle needed (unlike multi-table LSH). */
  private def probeJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, k: Int,
                        cellUdf: org.apache.spark.sql.expressions.UserDefinedFunction,
                        probeUdf: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame = {
    // widen both sides: cell assignment / probe scoring are per-row
    // centroid sweeps planned into the scan stages (no-op when well-split)
    val c = Parallelism.widen(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv_")),
        col("neighbor_id"))
      .withColumn("_cell_", cellUdf(col("_cv_")))
    val q = Parallelism.widen(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv_")),
        col("query_id"))
      .withColumn("_cell_", explode(probeUdf(col("_qv_"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    q.join(c, Seq("_cell_"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cos(col("_qv_"), col("_cv_")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Sign-LSH bit sizing for [[cosineNearDupPairs]]/[[lshTopK]]:
    * `ceil(log2(n / targetBucket))` clamped to [2, 30] — the number of
    * hyperplane bits per table that keeps EXPECTED bucket occupancy at
    * `targetBucket`, so the within-bucket pair term stays
    * O(n · targetBucket) = linear in n instead of O(n²/2^bits) at fixed
    * bits (the round-16 sf1 soak's 164.8x failure mode). Monotonically
    * non-decreasing in n and non-increasing in targetBucket; recall lost
    * to finer buckets is recovered by `nTables`, not coarser bits. The
    * default targetBucket = 64 lands on the soak-validated operating
    * point: at the soak's 20k vectors it gives 9 bits, adjacent to the
    * measured sweep's best (bits 10 = 13 s vs bits 4 = 385 s). */
  def autoBits(n: Long, targetBucket: Long = 64L): Int = {
    require(n >= 0, s"autoBits: n must be >= 0, got $n")
    require(targetBucket >= 1,
      s"autoBits: targetBucket must be >= 1, got $targetBucket")
    // INTEGER-EXACT form of ceil(log2(max(1, n/targetBucket))) (round-19
    // review): the float form (ceil(ln(ratio)/ln 2)) was the suite's one
    // control-flow-affecting transcendental replayed by the DuckDB oracle
    // — at n exactly targetBucket·2^j a 1-ulp libm difference between
    // engines could flip the ceil and diverge the whole ann05 gate. For
    // integer m = ceil(n/targetBucket), ceil(log2(y)) over y ∈ (m-1, m]
    // equals bitLength(m-1) (no power of 2 lies strictly between two
    // consecutive integers), so the formulas agree everywhere the float
    // math is exact and the integer one is exact always.
    val m = math.max(1L, (n + targetBucket - 1) / targetBucket)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(30, math.max(2, bits))
  }

  /** Centroid-count sizing for [[semanticDedup]]'s centroid table:
    * `ceil(n / targetClusterSize)` (>= 1) — the centroid table that keeps
    * expected cluster size constant, so SemDeDup's Σ|cluster|² term stays
    * O(n · targetClusterSize) = linear in n instead of O(n²/k) at fixed k
    * (the round-16 sf1 soak's 15x failure mode; scaling k with n is the
    * published recipe's own operating point). Monotonically
    * non-decreasing in n. */
  def autoK(n: Long, targetClusterSize: Long = 1024L): Int = {
    require(n >= 0, s"autoK: n must be >= 0, got $n")
    require(targetClusterSize >= 1,
      s"autoK: targetClusterSize must be >= 1, got $targetClusterSize")
    val k = math.ceil(n.toDouble / targetClusterSize.toDouble).toLong
    math.max(1L, math.min(k, Int.MaxValue.toLong)).toInt
  }

  /** (_id_, carry..., _table_, _bucket_): one row per vector and LSH table
    * of [[signatureUdf]]. `carry` columns must be named. */
  private def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, bitsPerTable: Int, nTables: Int, seed: Long,
                         portablePlanes: Boolean, carry: Column*): DataFrame = {
    val sigUdf = signatureUdf(dim, bitsPerTable, nTables, seed, portablePlanes)
    // widen: the signature UDF plans into the scan stage — an under-split
    // input serializes the hashing on one core (no-op on well-split scans)
    val w = Parallelism.widen(
      df.select(col(idCol).as("_id_") +: col(vecCol).as("_v_") +: carry: _*),
      col("_id_"))
    w.select(w.columns.filter(_ != "_v_").map(col) :+
      posexplode(sigUdf(col("_v_"))).as(Seq("_table_", "_bucket_")): _*)
  }

  /** Quantize one embedding component to the integer grid, rejecting
    * non-finite (and NULL) components IN-PLAN: Spark's floor(double)
    * silently maps NaN → 0 and +Inf → Long.MaxValue, so one corrupt
    * vector — a standard upstream-embedding failure mode absent from
    * small clean fixtures — would bias every centroid toward the origin
    * or wrap the integer sums, with no null and no error anywhere in the
    * output. Corrupt components must say so by name. */
  private def quantized(e: Column, scale: Int, op: String): Column =
    Guards.finiteOrRaiseStrict(e, floor(e.cast("double") * scale),
      Guards.nonFiniteMsg(op, "embedding component", e))

  /** Per-label centroid aggregation over QUANTIZED embeddings — the
    * distributed E-step of k-means/nearest-class-mean, made engine-exact:
    * each float component is floored to an integer grid (`floor(e·scale)`),
    * so the per-(label, dim) sums are integers and immune to the
    * summation-order nondeterminism that makes raw float group-sums
    * unreproducible across engines and even across Spark retries.
    * Output: (label, pos, s, n) — the sufficient statistics; mean = s/n.
    *
    * 100 TB shape: one explode + one hash aggregate with map-side partial
    * sums; the result is (labels × dims) rows — model-sized, not
    * data-sized. */
  def quantizedLabelCentroids(df: DataFrame, vecCol: String,
                              labelCol: String, scale: Int = 1000): DataFrame =
    // widen on (label, vector): label alone has dim-of-classes cardinality
    // and would idle most partitions; hashing the vector in spreads rows
    // evenly and deterministically. The quantize + posexplode otherwise
    // runs inside an under-split scan stage on one core.
    Parallelism.widen(df.select(col(labelCol), col(vecCol)),
        col(labelCol), col(vecCol))
      .select(col(labelCol).as("label"),
      posexplode(transform(col(vecCol),
        e => quantized(e, scale, "quantizedLabelCentroids")))
        .as(Seq("pos", "_q_")))
      .groupBy("label", "pos")
      .agg(sum("_q_").as("s"), count(lit(1)).as("n"))

  /** Hash-seeded centroid table for [[semanticDedup]]'s AUTO-SIZED path
    * (round 19 — the r18 verdict's re-gate task): `k` pseudo-random seed
    * vectors (ascending `(mix64(id), id)` order — the wsp01/ss01 splitmix
    * chain, so DuckDB replays the draw) become SINGLETON centroids
    * `(label = seed id, pos, s = quantized component, n = 1)` — the
    * k-means round-0 initialization, engine-exact. With
    * `k = autoK(count)` the centroid table tracks the corpus and
    * SemDeDup's Σ|cluster|² term stays O(n · targetClusterSize) instead
    * of quadratic at a fixed label count (the pinned-label fixture lane
    * the r16 soak measured at 15x for 10x data).
    *
    * Seed selection is a distributed top-k (`TakeOrderedAndProject` —
    * no single-task global sort); k is bounded by the same model-sized
    * contract as every centroid table ([[assignNearestCentroid]]
    * broadcasts it), enforced here at 2^20 by name. */
  def seededCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, scale: Int = 1000): DataFrame = {
    require(k >= 1, s"seededCentroids: k must be >= 1, got $k")
    require(k <= (1 << 20),
      s"seededCentroids: k=$k exceeds 2^20 — the centroid table must stay " +
        "model-sized (assignNearestCentroid broadcasts it); raise " +
        "targetClusterSize in autoK, or cluster hierarchically")
    val mixUdf = udf { (x: Long) => graft.functions.TextKernels.mix64(x) }
    val seeds = df
      .select(col(idCol).as("label"), col(vecCol).as("_sv_"),
        mixUdf(Guards.longIdOrRaise(df, idCol, "seededCentroids")).as("_h_"))
      .orderBy(col("_h_"), col("label"))
      .limit(k)
    seeds.select(col("label"),
        posexplode(transform(col("_sv_"),
          e => quantized(e, scale, "seededCentroids"))).as(Seq("pos", "s")))
      .withColumn("n", lit(1L))
  }

  /** Nearest-centroid assignment over [[quantizedLabelCentroids]] output:
    * every vector goes to the centroid minimizing Σ_d (q_d − s_d/n)²
    * (ascending-d double accumulation — the ann02 bit-portability
    * recipe), ties to the smaller label. Returns (_id_, cluster).
    * Centroids are model-sized, so they are collected once and each
    * vector's argmin is one loop over the broadcast matrix. */
  def assignNearestCentroid(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame,
                            scale: Int = 1000): DataFrame = {
    val (nearest, labels) = nearestCentroid(centroids, scale)
    Parallelism.widen(df.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol).as("_id_"), nearest(col(vecCol)).as("cluster_index"))
      .join(broadcast(labels), "cluster_index")
      .select(col("_id_"), col("c_label").as("cluster"))
  }

  /** The kernel of [[assignNearestCentroid]]: a column function giving a
    * vector's nearest centroid as its index in label order, and the
    * (cluster_index, c_label) table that maps the index back to its label
    * with the label's type (int for [[quantizedLabelCentroids]] callers,
    * long for seeded ids) preserved. */
  private def nearestCentroid(centroids: DataFrame,
                              scale: Int): (Column => Column, DataFrame) = {
    val spark = centroids.sparkSession
    val cent = centroids.groupBy(col("label").as("c_label"), col("n"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x("s")).as("cs"))
    // The centroid table is model-sized by contract (seededCentroids
    // bounds k at 2^20), so it is collected once, sorted by label, and each
    // vector's argmin is one primitive loop over the broadcast matrix: n
    // rows in, n rows out, no n×k distance rows (a window or aggregate over
    // those was dd11's dominant cost at sf10). Bit-identical to the SQL
    // form: per dimension ascending, diff = double(q_d) - double(s_d) /
    // double(n), acc += diff*diff; ties go to the LOWEST label, the first
    // strict improvement over the label-ascending scan.
    val centSorted = cent.orderBy("c_label").collect()
    require(centSorted.nonEmpty, "assignNearestCentroid: empty centroid table")
    val ns: Array[Double] = centSorted.map(_.getLong(1).toDouble)
    val css: Array[Array[Long]] =
      centSorted.map(_.getSeq[Long](2).toArray)
    val bc = spark.sparkContext.broadcast((ns, css))
    val argminUdf = udf { (qv: Seq[Long]) =>
      val (cn, cc) = bc.value
      if (qv == null) 0 // zip_with on a NULL array nulled every distance;
                        // min(struct(null, label)) then took the lowest
                        // label — index 0 of the label-ascending order
      else {
        val qa = qv.toArray
        var bi = 0
        var bd = Double.PositiveInfinity
        var i = 0
        while (i < cc.length) {
          val cs = cc(i)
          val n = cn(i)
          val len = math.min(qa.length, cs.length)
          var acc = 0.0
          var d = 0
          while (d < len) {
            val diff = qa(d).toDouble - cs(d).toDouble / n
            acc += diff * diff
            d += 1
          }
          if (acc < bd) { bd = acc; bi = i }
          i += 1
        }
        bi
      }
    }
    val labelField = cent.schema("c_label")
    val idxSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster_index",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      labelField.copy(name = "c_label")))
    val idxRows = centSorted.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(i, r.get(0))
    }
    val labels = spark.createDataFrame(
      spark.sparkContext.parallelize(idxRows.toSeq, 1), idxSchema)
    (v => argminUdf(transform(v,
      e => quantized(e, scale, "assignNearestCentroid"))), labels)
  }

  /** Confusion rollup of [[assignNearestCentroid]] against the true
    * labels: (label, assigned, n_vecs) — the k-means-style assignment
    * quality matrix. */
  def nearestCentroidConfusion(df: DataFrame, idCol: String, vecCol: String,
                               labelCol: String, centroids: DataFrame,
                               scale: Int = 1000): DataFrame =
    assignNearestCentroid(df, idCol, vecCol, centroids, scale)
      .join(df.select(col(idCol).as("_id_"), col(labelCol).as("label")), "_id_")
      .groupBy(col("label"), col("cluster").as("assigned"))
      .agg(count(lit(1)).as("n_vecs"))

  /** SemDeDup (Abbas et al. '23, public technique): semantic
    * deduplication by clustering the embedding space and comparing
    * pairs ONLY within a cluster — the cluster assignment bounds the
    * quadratic pairwise term to Σ|cluster|², which is the paper's whole
    * scaling argument (vs the corpus-wide |N|² that no one can afford).
    * Candidate pairs with cosine >= `minCosine` form a graph; connected
    * components collapse chains (A~B~C must not keep B AND C); keep =
    * the min-id member of each component, singletons keep themselves.
    *
    * Cross-cluster near-duplicates are missed BY DESIGN — that is the
    * documented recall trade of the published method (mitigated in
    * production by probing >1 nearest cells, as [[ivfTopK]] does).
    * Scale note (soak-measured): Σ|cluster|² is quadratic in n at FIXED
    * centroid count (10x the data ran 15x slower) — size the
    * centroid table with the corpus ([[autoK]]: k ~ n /
    * targetClusterSize), which is exactly the published recipe's
    * operating point.
    *
    * Candidate pairs come from [[PairJoin.selfJoin]] keyed by cluster,
    * which raises by name when any cluster exceeds
    * `degenerateBucketBound` ([[Guards.DegenerateBucketBound]], 2^20) —
    * a cluster at the bound alone contributes ~5.5e11 within-cluster
    * pairs — and splits a cluster over [[PairJoin.GridTarget]] rows on
    * its grid, so a few large clusters do not serialize the pair loop on
    * a few cores. `<= 0` opts out of the guard.
    *
    * Cosine arithmetic is the ann03 recipe bit-for-bit: normalize to
    * float, ascending double dot — reproducible on any engine.
    *
    * Returns (id, cluster, component, keep). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, minCosine: Double,
                    scale: Int = 1000,
                    degenerateBucketBound: Long =
                      Guards.DegenerateBucketBound): DataFrame = {
    // one pass gives each vector its cluster and its unit vector; pinned,
    // since the pair join and the final keep join both read it
    val (nearest, labels) = nearestCentroid(centroids, scale)
    val keyed = Materialize.lazyRound(Parallelism.widen(
        df.select(col(idCol).as("_id_"), col(vecCol).as("_v_")), col("_id_"))
      .withColumn("_nrm_", sqrt(
        org.apache.spark.sql.GraftFunctions.dot_product(col("_v_"), col("_v_"))))
      .select(col("_id_"), nearest(col("_v_")).as("cluster_index"),
        when(col("_nrm_") === 0, col("_v_"))
          .otherwise(transform(col("_v_"),
            x => (x.cast("double") / col("_nrm_")).cast("float"))).as("_u_")))
    // the vectors are unit length, so the dot IS the cosine
    val pairs = PairJoin.selfJoin(keyed, Seq("cluster_index"),
      "semanticDedup", degenerateBucketBound,
      "size the centroid table with the corpus — autoK(n) gives " +
        "ceil(n / targetClusterSize) centroids so cluster occupancy " +
        "stays constant (or pass degenerateBucketBound = 0 to accept " +
        "the cost)",
      payload = Seq("_u_"),
      verify = Seq(org.apache.spark.sql.GraftFunctions.dot_product(
        col("_u__a"), col("_u__b")).as("cosine")),
      keep = col("cosine") >= minCosine)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    keyed.join(broadcast(labels), "cluster_index")
      .join(comps, col("_id_") === comps("id"), "left")
      .select(col("_id_").as("id"), col("c_label").as("cluster"),
        coalesce(col("component"), col("_id_")).as("component"),
        (coalesce(col("component"), col("_id_")) === col("_id_")).as("keep"))
  }

  /** Greedy k-center / farthest-point coreset selection (Gonzalez 1985,
    * public — the 2-approximation every diversity-sampling pipeline
    * uses): start from the min-id point, then repeatedly take the point
    * FARTHEST from the chosen set. For curation this picks a maximally
    * spread subset of an embedding space — the "coreset" seeds for
    * clustering, eval-set selection, or diverse few-shot pools.
    *
    * Distances are integer squared-L2 over [[Quantize.int8Symmetric]]
    * codes: float argmax across engines flips on ulp noise, integer
    * distances make selection (and ties, broken by min id) exactly
    * reproducible — so an 8-round SQL unroll hash-gates the whole greedy
    * chain. Each round is one bounded argmax aggregate plus one
    * `least(dist, dist-to-new-center)` column update over a
    * `localCheckpoint`ed frame — per round one scan, no shuffle growth
    * with k; the chosen centers ride along as 64-int literal arrays.
    *
    * Output: (sel_rank INT, vec_id BIGINT, dist_to_set BIGINT — the
    * selected point's distance to the prior set; NULL for the seed). */
  def farthestPointsInt8(df: DataFrame, idCol: String, vecCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // widen BEFORE the pin: every greedy round re-scans the pinned frame
    // for its distance update + argmax, so an under-split input would
    // serialize all k rounds' kernels through one task apiece
    // the point count rides the pin's job: an empty input or k > n would
    // otherwise surface as an opaque NoSuchElementException from head()
    // mid-loop
    val (pts, n) = Superstep.pinCounting(Parallelism.widen(
        Quantize.int8Symmetric(df, vecCol)
          .select(col(idCol).cast("long").as("_id_"), col("qvec").as("_q_")),
        col("_id_")), lit(true))
    require(n >= 1, "farthestPointsInt8 needs a non-empty input")
    require(k <= n, s"k=$k exceeds the number of points n=$n")
    def distTo(q: Seq[Int]) = expr(
      s"aggregate(zip_with(_q_, array(${q.mkString(",")}), " +
        "(a, b) -> cast(a - b as bigint) * (a - b)), 0L, (acc, x) -> acc + x)")
    val first = pts.orderBy("_id_").limit(1).select("_id_", "_q_").head()
    var chosen = List[(Int, Long, Option[Long])]((1, first.getLong(0), None))
    // each round's distances are pinned, and the pin they supersede freed;
    // the last round's update would feed no argmax, so it is not made
    var cur = pts.withColumn("_md_", distTo(first.getSeq[Int](1)))
      .materializeRound()
    for (r <- 2 to k) {
      val top = cur
        .where(!col("_id_").isInCollection(chosen.map(_._2)))
        .orderBy(col("_md_").desc, col("_id_")).limit(1)
        .select("_id_", "_md_", "_q_").head()
      chosen = chosen :+ ((r, top.getLong(0), Some(top.getLong(1))))
      if (r < k) {
        val next = cur
          .withColumn("_md_", least(col("_md_"), distTo(top.getSeq[Int](2))))
          .materializeRound()
        Superstep.release(cur)
        cur = next
      }
    }
    Seq(cur, pts).foreach(Superstep.release)
    spark.createDataset(chosen).toDF("sel_rank", "vec_id", "dist_to_set")
  }

  /** k-NN label-disagreement report — the embedding-space label-noise
    * detector (Confident-Learning flavored): every row's label is
    * compared against the MAJORITY label of its k nearest neighbors by
    * cosine; rows whose neighborhood outvotes them are the mislabeled /
    * boundary candidates a curation pass re-examines. Vote ties break to
    * the SMALLER label (deterministic; a tie is genuinely ambiguous, so
    * any fixed rule is equally honest and this one replays in SQL).
    *
    * Exactness lane: the all-pairs [[bruteForceTopK]] bound — the
    * semantics gate. At corpus scale, generate candidates with
    * [[lshTopK]] and vote over those (the [[hardNegatives]] composition
    * note applies verbatim: voting composes AFTER candidate generation).
    *
    * Output: (idCol, own_label, pred_label, n_votes, disagree), one row
    * per input row, `n_votes` = votes for the winning label. */
  def knnLabelDisagreement(df: DataFrame, idCol: String, vecCol: String,
                           labelCol: String, k: Int): DataFrame = {
    val labels = df.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("_nl_"))
    val own = df.select(col(idCol), col(labelCol).as("own_label"))
    val votes = bruteForceTopK(df, df, idCol, vecCol, k)
      .join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("_nl_"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("_nl_"))
    votes.withColumn("_rk_", row_number().over(wv))
      .where(col("_rk_") === 1)
      .select(col("query_id").as(idCol), col("_nl_").as("pred_label"),
        col("n_votes"))
      .join(own, idCol)
      .select(col(idCol), col("own_label"), col("pred_label"),
        col("n_votes"),
        (col("own_label") =!= col("pred_label")).as("disagree"))
  }
}

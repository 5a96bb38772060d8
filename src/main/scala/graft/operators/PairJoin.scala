package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Blocked self-join: candidate pairs are the rows that share a bucket key,
  * verified and deduplicated. The LSH-family lanes ([[Dedup.simHashPairs]],
  * [[Dedup.minHashLshPairs]], [[Similarity.cosineNearDupPairs]]'s LSH lane,
  * [[Multimodal.hashNearDupPairs]]) take their candidates from here, so the
  * four choices below are made once:
  *
  *  - Pin. The keyed frame is read by the probe and by both join sides, and
  *    its keys come from a per-row hash UDF. It is pinned once with
  *    [[Materialize.lazyRound]]: the probe job computes it, the join reads
  *    it, and no SQL-cache entry outlives the returned plan.
  *  - Fused probe. One bucket-occupancy aggregate is the only driver action.
  *    It raises by name (the [[Guards.degenerateBucketMessage]] text) when
  *    the largest bucket is over `bound`, since within-bucket pairing is
  *    size²/2 rows: a bucket at 2^20 is a hang, not a slow query. Otherwise
  *    the same rows name the grid's hot buckets. A `maxBucketSize` cap turns
  *    the guard off (the caller made the sizing decision), and a cap of at
  *    most [[GridTarget]] skips the probe job: no bucket can be hot.
  *  - Grid. AQE can split a hot partition but not a single hot key, so a
  *    bucket over [[GridTarget]] rows would serialize its whole pairing on
  *    one task. Its rows split into g = ceil(b / GridTarget) cells by a
  *    deterministic id hash (a random salt breaks under task retry), and
  *    each side is replicated g times so cell (i, j) pairs sub-bucket i with
  *    sub-bucket j on its own task. Every pair lands in exactly one cell, so
  *    the output is unchanged; replication is Σ g·b ≈ Σ b² / GridTarget rows.
  *    With no hot bucket the plain join plan runs.
  *  - Verify in the join. Candidate volume is the term that grows
  *    quadratically, so payload columns ride the join and the verify
  *    predicate runs in the join stage. The final `distinct` then dedups
  *    only true pairs (a pair may share several buckets); verify columns
  *    are pair-determined, so filtering first does not change the output.
  */
object PairJoin {

  /** Bucket rows above which the self-join splits the bucket on a grid. */
  val GridTarget = 1024L

  /** Pairs `(id_a, id_b, verify...)` with `id_a < id_b` of `keyed` rows that
    * share all of `keys`, kept where `keep` holds, distinct. `keyed` holds
    * `_id_`, `keys` and `payload`; payload column `p` is visible to `verify`
    * as `p_a` and `p_b`. `op` and `remedy` name the caller in the guard's
    * error; `bound <= 0` disables the guard; `maxBucketSize > 0` drops
    * buckets larger than it before the join. */
  def selfJoin(keyed: DataFrame, keys: Seq[String], op: String, bound: Long,
               remedy: String, maxBucketSize: Int = 0,
               payload: Seq[String] = Nil, verify: Seq[Column] = Nil,
               keep: Column = lit(true)): DataFrame = {
    val keyCols = keys.map(col)
    val pinned = Materialize.lazyRound(
      keyed.select((keys ++ ("_id_" +: payload)).map(col): _*))
    def sizes(df: DataFrame) = df.groupBy(keyCols: _*).agg(count(lit(1)).as("_b_"))
    val capped =
      if (maxBucketSize <= 0) pinned
      else pinned.join(sizes(pinned).where(col("_b_") <= maxBucketSize)
        .select(keyCols: _*), keys, "left_semi")
    val guard = maxBucketSize <= 0 && bound > 0
    val hot =
      if (maxBucketSize > 0 && maxBucketSize <= GridTarget) Array.empty[Row]
      else {
        val over = if (guard) math.min(bound, GridTarget) else GridTarget
        val big = sizes(capped).where(col("_b_") > over)
        // under GridTarget only the largest bucket matters (it raises or
        // nothing is hot); above it there are at most rows/GridTarget keys
        val rows =
          if (over < GridTarget) big.orderBy(col("_b_").desc).limit(1).collect()
          else big.collect()
        val size = (r: Row) => r.getLong(keys.size)
        val largest = rows.maxByOption(size)
        require(!guard || largest.forall(size(_) <= bound),
          Guards.degenerateBucketMessage(op, keys, largest.get, bound, remedy))
        rows.filter(size(_) > GridTarget)
      }
    def side(s: String, cells: Column*) =
      keyCols ++ cells ++ (col("_id_").as(s"id_$s") +:
        payload.map(p => col(p).as(s"${p}_$s")))
    val joined =
      if (hot.isEmpty) capped.select(side("a"): _*)
        .join(capped.select(side("b"): _*), keys)
      else {
        val spark = keyed.sparkSession
        val gSchema = StructType(keys.map(capped.schema(_)) :+
          StructField("_g_", IntegerType, nullable = false))
        val gRows = hot.toSeq.map { r =>
          Row.fromSeq(keys.indices.map(r.get) :+
            ((r.getLong(keys.size) + GridTarget - 1) / GridTarget).toInt)
        }
        val gMap = spark.createDataFrame(
          spark.sparkContext.parallelize(gRows, 1), gSchema)
        val withG = capped.join(broadcast(gMap), keys, "left")
          .withColumn("_g_", coalesce(col("_g_"), lit(1)))
          .withColumn("_own_", pmod(xxhash64(col("_id_")), col("_g_")).cast("int"))
        val fan = explode(sequence(lit(0), col("_g_") - 1))
        withG.select(side("a", col("_own_").as("_ci_"), fan.as("_cj_")): _*)
          .join(withG.select(side("b", fan.as("_ci_"), col("_own_").as("_cj_")): _*),
            keys ++ Seq("_ci_", "_cj_"))
      }
    joined.where(col("id_a") < col("id_b"))
      .select((col("id_a") +: col("id_b") +: verify): _*)
      .where(keep)
      .distinct()
  }

  /** Pairs `(id_a, id_b, hamming)` of rows whose 64-bit `hashCol` values are
    * within `maxHamming` bits, `id_a < id_b`; NULL hashes never pair. The
    * pigeonhole block join: the hash splits into `maxHamming + 1` blocks
    * (the last absorbs the remainder bits), a pair within the bound agrees
    * on at least one whole block, and the exact popcount check follows. */
  def hamming(hashed: DataFrame, idCol: String, hashCol: String,
              maxHamming: Int, op: String, remedy: String,
              maxBucketSize: Int = 0,
              bound: Long = Guards.DegenerateBucketBound): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 64)")
    val nBlocks = maxHamming + 1
    val width = 64 / nBlocks
    // unsigned shift then mask: signed division would key bit-identical
    // blocks differently whenever bit 63 is set
    val blocks = hashed
      .select(col(idCol).as("_id_"), col(hashCol).as("h"))
      .where(col("h").isNotNull)
      .select(col("_id_"), col("h"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("_blk_"))
      .withColumn("_bv_", expr(
        s"""shiftrightunsigned(h, _blk_ * $width) &
           |  if(_blk_ = ${nBlocks - 1}, -1L, ${(1L << width) - 1}L)""".stripMargin))
    selfJoin(blocks, Seq("_blk_", "_bv_"), op, bound, remedy, maxBucketSize,
      payload = Seq("h"),
      verify = Seq(bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming")),
      keep = col("hamming") <= maxHamming)
  }
}

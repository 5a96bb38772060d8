package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Bucket-keyed pair join: candidate pairs are the rows that share a bucket
  * key, verified and deduplicated. Every operator that pairs rows on a
  * shared bucket key takes its candidates from here: the self lanes
  * through [[selfJoin]] ([[Dedup.simHashPairs]], [[Dedup.minHashLshPairs]],
  * [[Similarity.cosineNearDupPairs]]'s LSH lane,
  * [[Multimodal.hashNearDupPairs]], [[Similarity.semanticDedup]]) and the
  * cross-side lanes through [[join]] ([[Dedup.minHashLshNewVsCorpus]],
  * [[Similarity.lshTopK]], [[Similarity.hardNegativesLsh]]). The four
  * choices below are made once:
  *
  *  - Pin. Each side is read by the probe and by the join, and its keys
  *    usually come from a per-row hash UDF. Each side is pinned once with
  *    [[Materialize.lazyRound]]: the probe job computes it, the join reads
  *    it, and no SQL-cache entry outlives the returned plan. A self-join
  *    pins one frame for both sides, and a side that already is a pin is
  *    read as it is.
  *  - Fused probe. One aggregate, [[Guards.keyCounts]] (each key's rows
  *    per side, NULL keys dropped), is the only driver action. It
  *    raises by name (the [[Guards.degenerateBucketMessage]] text, naming
  *    the side over the bound) when a bucket on either side is over
  *    `bound`, since a bucket's pairing is sizeA·sizeB rows: a bucket at
  *    2^20 is a hang, not a slow query. Otherwise the same rows name the
  *    grid's hot buckets. A `maxBucketSize` cap turns the guard off (the
  *    caller made the sizing decision), and a cap of at most [[GridTarget]]
  *    skips the probe job: no bucket can be hot.
  *  - Grid. AQE can split a hot partition but not a single hot key, so a
  *    bucket over [[GridTarget]] rows on either side would serialize its
  *    whole pairing on one task. Its l left rows split into
  *    gL = ceil(l / GridTarget) cells and its r right rows into gR cells,
  *    by a deterministic id hash (a random salt breaks under task retry).
  *    Each left row is replicated over the gR right cells and each right
  *    row over the gL left cells, so cell (i, j) pairs left cell i with
  *    right cell j on its own task. Every pair lands in exactly one cell,
  *    so the output is unchanged; replication is l·gR + r·gL rows. With no
  *    hot bucket the plain join plan runs.
  *  - Verify in the join. Candidate volume is the term that grows
  *    quadratically, so payload columns ride the join and the verify
  *    predicate runs in the join stage. The final `distinct` then dedups
  *    only true pairs (a pair may share several buckets); verify columns
  *    are pair-determined, so filtering first does not change the output.
  */
object PairJoin {

  /** Bucket rows above which a pair join splits the bucket on a grid. */
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
    val pinned = pin(keyed, keys, payload)
    val capped =
      if (maxBucketSize <= 0) pinned
      else pinned.join(Guards.keyCounts(pinned, pinned, keys)
        .where(col("_l_") <= maxBucketSize).select(keys.map(col): _*), keys, "left_semi")
    pairs(capped, capped, keys, Seq(op, op),
      if (maxBucketSize > 0) 0L else bound, remedy,
      probe = maxBucketSize <= 0 || maxBucketSize > GridTarget,
      payload, verify, (col("id_a") < col("id_b")) && keep)
  }

  /** Pairs `(id_a, id_b, verify...)` of a `left` row and a `right` row that
    * share all of `keys`, kept where `keep` holds, distinct. Each side holds
    * `_id_`, `keys` and `payload`, as in [[selfJoin]]; `id_a` and `p_a` come
    * from `left`. The guard's error names `op(<side> side)` with `sides`
    * naming the left and right side. */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String], op: String,
           sides: (String, String), bound: Long, remedy: String,
           payload: Seq[String] = Nil, verify: Seq[Column] = Nil,
           keep: Column = lit(true)): DataFrame =
    pairs(pin(left, keys, payload), pin(right, keys, payload), keys,
      Seq(sides._1, sides._2).map(s => s"$op($s side)"), bound, remedy,
      probe = true, payload, verify, keep)

  /** A side's columns, pinned unless `df` already is a pin. */
  private def pin(df: DataFrame, keys: Seq[String], payload: Seq[String]) = {
    val side = df.select((keys ++ ("_id_" +: payload)).map(col): _*)
    if (df.queryExecution.logical.isInstanceOf[LogicalRDD]) side
    else Materialize.lazyRound(side)
  }

  /** The core over pinned sides (`left eq right` for a self-join): probe
    * and guard (`bound <= 0`: no guard; `probe = false`: no job), grid,
    * verify, keep, distinct. `names` name each side in the guard's error. */
  private def pairs(left: DataFrame, right: DataFrame, keys: Seq[String],
                    names: Seq[String], bound: Long,
                    remedy: String, probe: Boolean, payload: Seq[String],
                    verify: Seq[Column], keep: Column): DataFrame = {
    val keyCols = keys.map(col)
    val self = left eq right
    // a probe row holds the key, then its left and right row counts
    def size(r: Row, s: Int) = r.getLong(keys.size + s)
    val hot =
      if (!probe) Array.empty[Row]
      else {
        val counts = Guards.keyCounts(left, right, keys)
        val over = if (bound > 0) math.min(bound, GridTarget) else GridTarget
        val most = greatest(col("_l_"), col("_r_"))
        val big = counts.where(most > over)
        // under GridTarget only the largest bucket matters (it raises or
        // nothing is hot); above it there are at most rows/GridTarget keys
        val rows =
          if (over < GridTarget) big.orderBy(most.desc).limit(1).collect()
          else big.collect()
        if (bound > 0) for (s <- 0 to 1; r <- rows.maxByOption(size(_, s)))
          require(size(r, s) <= bound, Guards.degenerateBucketMessage(names(s),
            keys, Row.fromSeq(keys.indices.map(r.get) :+ size(r, s)), bound,
            remedy))
        rows.filter(r => math.max(size(r, 0), size(r, 1)) > GridTarget)
      }
    def side(s: String, df: DataFrame, cells: Column*) =
      df.select(keyCols ++ cells ++ (col("_id_").as(s"id_$s") +:
        payload.map(p => col(p).as(s"${p}_$s"))): _*)
    val joined =
      if (hot.isEmpty) side("a", left).join(side("b", right), keys)
      else {
        val spark = left.sparkSession
        val cells = Seq("_gl_", "_gr_")
        val gSchema = StructType(keys.map(left.schema(_)) ++
          cells.map(StructField(_, IntegerType, nullable = false)))
        val gRows = hot.toSeq.map { r =>
          Row.fromSeq(keys.indices.map(r.get) ++ (0 to 1).map(s =>
            math.max(1L, (size(r, s) + GridTarget - 1) / GridTarget).toInt))
        }
        val gMap = broadcast(spark.createDataFrame(
          spark.sparkContext.parallelize(gRows, 1), gSchema))
        def withG(df: DataFrame) = df.join(gMap, keys, "left")
          .na.fill(1, cells)
        val own = (g: String) => pmod(xxhash64(col("_id_")), col(g)).cast("int")
        val fan = (g: String) => explode(sequence(lit(0), col(g) - 1))
        val l = withG(left)
        val r = if (self) l else withG(right)
        side("a", l, own("_gl_").as("_ci_"), fan("_gr_").as("_cj_"))
          .join(side("b", r, fan("_gl_").as("_ci_"), own("_gr_").as("_cj_")),
            keys ++ Seq("_ci_", "_cj_"))
      }
    joined.select((col("id_a") +: col("id_b") +: verify): _*)
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

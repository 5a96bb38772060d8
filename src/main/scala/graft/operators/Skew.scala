package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins (SURVEY scale notes; complements AQE's
  * runtime skew-join splitting with a plan-time guarantee).
  *
  * A shuffled equi-join sends every row of a hot key to ONE reducer. AQE can
  * split oversized partitions after the map stage, but only for sort-merge
  * joins and only per its thresholds. `saltedJoin` removes the hotspot by
  * construction: the big (skewed) side scatters each key across
  * `saltBuckets` sub-keys; the small-but-too-big-to-broadcast side is
  * replicated `saltBuckets` times so every sub-key finds its match. Join
  * output is IDENTICAL to the plain join — salting is pure partitioning.
  *
  * Cost model: replicates the right side saltBuckets×, so pick
  * saltBuckets ≈ (hottest-key row count) / (rows a reducer should own).
  * Use for joins where one side is dim-like (10^5..10^7 rows — too big to
  * broadcast, cheap to replicate) and the fact side has power-law keys.
  */
object Skew {

  /** Inner/left equi-join of `facts` (skewed, big) to `dims` (replicable)
    * on `keys`, scattering facts across `saltBuckets` per-key sub-joins. */
  def saltedJoin(facts: DataFrame, dims: DataFrame, keys: Seq[String],
                 saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"salting supports inner/left joins, not $joinType")
    // fact side: one salt value per row, derived from the ROW CONTENT
    // (xxhash64 over all columns), not from row position (mono_id). A
    // content hash is deterministic across stage retries; mono_id is not
    // (it encodes partition id + row order), and under partial
    // fetch-failure recompute some reducers would consume old map output
    // and others regenerated output — a nondeterministic shuffle key can
    // then duplicate or drop fact rows. Identical rows salting identically is correctness-neutral
    // (dims replicate to every bucket), though it concentrates
    // DUPLICATE-heavy hot keys in one bucket.
    val salted = facts.withColumn("_salt_",
      pmod(xxhash64(struct(facts.columns.map(col): _*)), lit(saltBuckets)))
    // dim side: replicate each row across all salt values
    val replicated = dims.withColumn("_salt_",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, keys :+ "_salt_", joinType).drop("_salt_")
  }

  /** Differential-broadcast join for extreme skew: the few hottest keys join
    * via broadcast (no shuffle at all for the heavy rows), the long tail
    * joins via the normal shuffled path. `hotKeys` must be small (it is
    * collected and broadcast); output equals the plain join. */
  def hotColdJoin(facts: DataFrame, dims: DataFrame, key: String,
                  hotKeys: Seq[Any], joinType: String = "inner"): DataFrame = {
    // fact-preserving joins only (the saltedJoin contract): a right/full
    // join through the hot/cold split would also need dim-preserving
    // semantics per branch, and Spark cannot build a broadcast hash join
    // with the broadcast side preserved — keep the supported set explicit
    // instead of letting an unsupported type fail obscurely downstream.
    // Normalized EXACTLY the way Spark's own JoinType parse does
    // (case-fold + strip '_'), so every alias spelling Spark accepts
    // passes here and nothing Spark would reject sneaks past; "semi" and
    // "anti" are Spark's bare aliases for leftsemi/leftanti
    require(Seq("inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti")
      .contains(joinType.toLowerCase(java.util.Locale.ROOT).replace("_", "")),
      s"hotColdJoin supports fact-preserving joins " +
        s"(inner/left/left_outer/left_semi/left_anti), not $joinType")
    val hotCol: Column = coalesce(col(key).isin(hotKeys: _*), lit(false))
    val hot = facts.where(hotCol)
      .join(broadcast(dims.where(hotCol)), Seq(key), joinType)
    val cold = facts.where(!hotCol) // null keys take the shuffled path
      .join(dims.where(!hotCol), Seq(key), joinType)
    hot.unionByName(cold)
  }

  /** Join-key skew profile: the measurement that decides BETWEEN
    * [[saltedJoin]] and [[hotColdJoin]] before burning a cluster-day on
    * a skewed shuffle. For the `topK` heaviest keys: exact count, the
    * key's share as an integer permille (`cnt·1000 div N` — no float
    * threshold to straddle), and `suggested_salt = ceil(cnt·D / N)` — the
    * number of salt buckets that levels this key down to the average
    * key's partition load (1 = not skewed). One aggregate + one top-k
    * window + one broadcast of the 1-row totals; the full distinct-key
    * set never leaves the executors. Output: (`keyCol`, cnt, n_total,
    * n_keys, permille, suggested_salt) ordered heaviest-first. */
  def profileKeys(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
    // global sort+limit is TakeOrdered (per-partition top-k + driver
    // merge of k·P rows) — NOT a single-partition window over the full
    // distinct-key set
    val top = counts.orderBy(col("cnt").desc, col(keyCol)).limit(topK)
    val totals = counts.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("n_keys"))
    top.crossJoin(broadcast(totals))
      .select(col(keyCol), col("cnt"), col("n_total"), col("n_keys"),
        expr("(cnt * 1000) div n_total").as("permille"),
        expr("(cnt * n_keys + n_total - 1) div n_total")
          .as("suggested_salt"))
      .orderBy(col("cnt").desc, col(keyCol))
  }

  /** Bloom-pruned INNER equi-join — the explicit runtime filter for the
    * "huge fact ⋈ selective dim" shape: a Bloom filter over the dim's
    * join keys is broadcast and applied to the fact side BEFORE the
    * shuffle, so fact rows that cannot possibly match (all but an fpp
    * fraction of non-matching rows) never leave their input partition.
    * Join output is IDENTICAL to the plain join — the filter only ever
    * drops non-matching rows (false positives just ride through to the
    * real join), which is also why the semantics are inner/semi only: an
    * outer join must keep unmatched fact rows, exactly what the filter
    * removes. Spark's own runtime filters cover some of these plans;
    * this form makes the pruning explicit, tunable, and independent of
    * the optimizer's thresholds.
    *
    * Cost: one pass over the dim keys to size + build the filter
    * (dim-sized, small by contract), one broadcast of ~1.2·n·ln(1/fpp)
    * bits, one codegen'd membership test per fact row. Keys are hashed
    * through their canonical string form so any key type works and
    * build/probe agree. */
  def bloomPrunedJoin(facts: DataFrame, dims: DataFrame, factKey: String,
                      dimKey: String, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp in (0, 1), got $fpp")
    val keys = dims.select(col(dimKey).cast("string").as("_k_"))
      .where(col("_k_").isNotNull).distinct()
    val n = math.max(1L, keys.count())
    val bf = keys.stat.bloomFilter("_k_", n, fpp)
    val bc = facts.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((k: String) =>
      k != null && bc.value.mightContainString(k))
    facts.where(mightContain(col(factKey).cast("string")))
      .join(dims, col(factKey) === dims(dimKey))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Record-linkage blocking primitives — the candidate-generation side of
  * entity resolution, complementing [[FuzzyLookup]] (which scores and
  * elects matches) and the LSH families in [[Dedup]] (which block by
  * content signature).
  */
object Linkage {

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995, public):
    * order records by a blocking key and emit every pair within a window
    * of `w` positions — the classic alternative to hash blocking when
    * near-matches share a PREFIX-ish sort key (names, addresses) rather
    * than an exact bucket. Output pairs are (a, b) with a's rank strictly
    * below b's, so each unordered pair appears once; rank order (and so
    * the pair set) is made total by the (`keyCol`, `idCol`) tie-break.
    *
    * Plan: ranks come from one window sort; pairing is NOT a rank-range
    * theta-join (quadratic) but an equi-join on the rank BUCKET
    * `(rank−1) div w`: a pair within w positions either shares a bucket
    * or sits in adjacent ones, so the left side explodes to its own and
    * its successor bucket (2 rows per record) and the join key is the
    * bucket id — per-key fan-in is exactly 3w rows whatever the data
    * skew, because ranks are unique BY CONSTRUCTION even when key values
    * repeat (the hot-key hedge content-hash blocking lacks). The final
    * `0 < rank_b − rank_a < w` filter trims the over-generation.
    *
    * The global rank itself is a running count by
    * [[Packing.shardedScan]]: rows shard by a `prefixLen`-char prefix of
    * the sort key (lexicographic prefixes are order-preserving, and equal
    * keys always share a shard so the (key, id) tie-break stays total) — no
    * single-partition window anywhere, identical ranks. Prefix skew
    * degrades parallelism, never correctness; raise `prefixLen` for short
    * common prefixes.
    *
    * Output: (a_id, b_id, a_key, b_key, rank_dist). */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
                              w: Int, prefixLen: Int = 2): DataFrame = {
    require(w >= 2, s"window must be >= 2, got $w")
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    // The global sort key is the STRING CAST of `keyCol`, everywhere:
    // shards are lexicographic prefixes, so the within-shard order must
    // be lexicographic too — ordering by a raw numeric key would put
    // shard '10' before shard '2' while 2 < 10 within, silently
    // corrupting global ranks. Numeric keys therefore neighbor by their
    // decimal spelling (zero-pad upstream for numeric adjacency).
    // NULL keys coalesce to '' for sharding only — '' is the smallest
    // prefix and NULLS FIRST keeps them ahead within the shard, so the
    // global order is unchanged
    val sharded = df
      .withColumn("_kstr_", col(keyCol).cast("string"))
      .withColumn("_shard_",
        substring(coalesce(col("_kstr_"), lit("")), 1, prefixLen))
    val ranked = Packing.shardedScan(sharded.withColumn("_one_", lit(1L)),
        Seq("_shard_"), Seq(col("_kstr_").asc_nulls_first, col(idCol)),
        Seq("_one_" -> "_rn_"), Packing.runningSum)
      .select(col(idCol), col(keyCol), col("_rn_"),
        expr(s"(_rn_ - 1) div $w").as("_bk_"))
    val left = ranked.select(col(idCol).as("a_id"), col(keyCol).as("a_key"),
      col("_rn_").as("_rna_"),
      explode(array(col("_bk_"), col("_bk_") + 1)).as("_bk_"))
    val right = ranked.select(col(idCol).as("b_id"), col(keyCol).as("b_key"),
      col("_rn_").as("_rnb_"), col("_bk_"))
    left.join(right, "_bk_")
      .where(col("_rnb_") - col("_rna_") > 0 &&
        col("_rnb_") - col("_rna_") < w)
      .select(col("a_id"), col("b_id"), col("a_key"), col("b_key"),
        (col("_rnb_") - col("_rna_")).as("rank_dist"))
    // no dedup needed: b's bucket is fixed, so a pair matches through
    // exactly one of a's two exploded keys — never both
  }

  /** MULTI-PASS sorted neighborhood (the form Hernández & Stolfo
    * actually recommend): one pass per blocking key, pairs unioned —
    * because any single sort key has blind spots (a leading typo
    * teleports a record across the name sort; a reversed-key pass still
    * catches it by suffix). Pairs are canonicalized to (id_lo, id_hi)
    * since two passes can rank the same two records in opposite orders,
    * and `n_passes` reports how many passes proposed each pair — the
    * standard downstream prior (2-pass agreement is stronger evidence).
    * Cost is additive in passes: each is its own [[sortedNeighborhoodPairs]]
    * bucket join, merged by one (lo, hi) aggregate. */
  def multiPassPairs(df: DataFrame, idCol: String, keyCols: Seq[String],
                     w: Int): DataFrame = {
    require(keyCols.nonEmpty, "at least one blocking key")
    keyCols.zipWithIndex.map { case (k, i) =>
      sortedNeighborhoodPairs(df, idCol, k, w)
        .select(least(col("a_id"), col("b_id")).as("id_lo"),
          greatest(col("a_id"), col("b_id")).as("id_hi"),
          lit(i).as("_pass_"))
    }.reduce(_ unionByName _)
      .groupBy("id_lo", "id_hi")
      .agg(countDistinct(col("_pass_")).as("n_passes"))
  }
}

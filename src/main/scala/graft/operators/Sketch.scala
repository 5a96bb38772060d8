package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-cardinality sketch — the mergeable,
  * engine-portable answer to "how many distinct X per group" at 100 TB.
  *
  * Exact `countDistinct` shuffles every distinct value; Spark's own
  * `approx_count_distinct` (HLL++) is cheap but its register layout is
  * engine-private, so no oracle can replay it. KMV keeps the k smallest
  * 63-bit `mix64` hashes per group: the k-th smallest hash `hk` estimates
  * density, `est = (k-1) · 2^63 / hk` (Bar-Yossef et al., "Counting
  * distinct elements in a data stream", RANDOM 2002) with relative error
  * ~1/√(k−2). Everything up to the final division is integer, and the
  * division is one correctly-rounded IEEE op on exactly-representable
  * inputs ((k−1)·2^63 is a small-int × power-of-two), so a SQL replay is
  * bit-identical.
  *
  * Mergeability is free by construction: the sketch of a union is the
  * k smallest of the concatenated hash sets — union the inputs (or the
  * kept hash rows) and re-apply. No float state, no register merge.
  *
  * Plan shape: one distinct (map-side partial) on (group, hash), then a
  * rank-≤-k window that Spark's WindowGroupLimit rewrites into
  * per-partition top-k BEFORE the shuffle — so only k·partitions hash
  * rows ever move, not the distinct set. That is the whole point at
  * scale: cardinality of a 10^11-row column for the cost of shipping
  * k longs per partition.
  */
object Sketch {

  /** JVM splitmix64 finalizer (same stream as `Sampling`); its udf wrapper
    * is deterministic so Catalyst neither re-executes nor reorders it. */
  private val mixUdf = udf { (x: Long) => graft.functions.TextKernels.mix64(x) }

  private def hashCol(df: DataFrame, idCol: String) =
    // NULL (or long-uncastable) ids must fail by NAME: a null hash sorts
    // FIRST in the KMV rank window (displacing the true k-th minimum and
    // silently inflating the estimate), and DuckDB's NULLS-LAST default
    // would rank the same rows differently — breaking the bit-identical
    // replay contract exactly when dirty data appears
    shiftrightunsigned(mixUdf(Guards.longIdOrRaise(df, idCol, "kmv")), 1)

  /** Rank-≤-k + kth-min + estimator over a `(keys…, _h_)` hash table:
    * the shared core of every KMV surface. Appends `n_kept` and
    * `estimate` to the key columns. */
  private def kmvEstimate(hashes: DataFrame, keys: Seq[String],
                          k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_h_"))
    hashes.withColumn("_rn_", row_number().over(w))
      .where(col("_rn_") <= k)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("_rn_") === k, col("_h_"))).as("_hk_"))
      .select(keys.map(col) ++ Seq(col("n_kept"),
        when(col("_hk_").isNull, col("n_kept").cast("double"))
          .otherwise((lit((k - 1).toDouble) * lit(9.223372036854775808e18))
            / col("_hk_").cast("double"))
          .as("estimate")): _*)
  }

  /** Per-group distinct-count estimate of `idCol` with a k-minimum-values
    * sketch. Output: `(groupCol, n_kept, estimate)` where `n_kept` ≤ k is
    * the sketch size and `estimate` is exact (= n_kept) for groups with
    * fewer than k distinct values — the sketch degrades to an exact
    * distinct count below its resolution, by definition. */
  def kmvDistinct(df: DataFrame, groupCol: String, idCol: String,
                  k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val hashes = df.select(col(groupCol), hashCol(df, idCol).as("_h_")).distinct()
    kmvEstimate(hashes, Seq(groupCol), k)
      .select(col(groupCol), col("n_kept"), col("estimate"))
  }

  /** KMV set algebra: for every unordered pair of groups, estimated
    * |A|, |B|, |A∪B| (the k-min of the concatenated hash sets — the
    * sketch-union, no rescan of the data needed in a real deployment),
    * |A∩B| by inclusion–exclusion, and the Jaccard estimate. The
    * intersection estimate is a DIFFERENCE of estimates, so near-disjoint
    * groups can legitimately come out slightly negative — that is the
    * estimator's honest noise (±|A∪B|/√(k−2)), reported unclamped.
    *
    * Plan: the per-group hash table is built once; pairs × hashes is a
    * broadcast join against the (tiny) group-pair list, then the same
    * rank-≤-k machinery. Cost ~ (#groups−1) × hash-table size — meant
    * for FEW groups (sources, partitions, cohorts), not high-cardinality
    * keys. */
  def kmvSetOps(df: DataFrame, groupCol: String, idCol: String,
                k: Int, maxGroups: Int = 1024): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // persisted: the hash table feeds the per-group estimate, the group
    // list (and its probe), and the pair join — without the cache each
    // consumer re-runs the distinct + mix64 UDF over the full input
    val hashes = df.select(col(groupCol).as("_g_"), hashCol(df, idCol).as("_h_"))
      .distinct().persist()
    val single = kmvEstimate(hashes, Seq("_g_"), k)
    val groups = hashes.select(col("_g_")).distinct()
    // "meant for FEW groups" stops being scaladoc here (round 18 — the
    // guard-as-code convention): the pair join costs ~groups^2/2 x the
    // hash-table size, so a high-cardinality group key (a per-customer
    // column instead of a source label) is an effective hang, not a slow
    // query. The probe reads the cached hash table and its aggregate
    // output is limit-bounded at the bound itself. <= 0 disables.
    if (maxGroups > 0) {
      val lim = math.min(maxGroups.toLong + 1L, Int.MaxValue.toLong).toInt
      val n = groups.limit(lim).count()
      if (n > maxGroups) hashes.unpersist()
      require(n <= maxGroups,
        s"kmvSetOps: more than $maxGroups distinct groups — the unordered-" +
          "pair sketch union is quadratic in the group count; aggregate " +
          "to coarser groups first, or pass maxGroups <= 0 to accept the " +
          "cost")
    }
    val pairs = groups.select(col("_g_").as("g_a"))
      .crossJoin(groups.select(col("_g_").as("g_b")))
      .where(col("g_a") < col("g_b"))
    val pairHashes = broadcast(pairs)
      .join(hashes, col("_g_") === col("g_a") || col("_g_") === col("g_b"))
      .select(col("g_a"), col("g_b"), col("_h_")).distinct()
    val unionEst = kmvEstimate(pairHashes, Seq("g_a", "g_b"), k)
      .select(col("g_a"), col("g_b"), col("estimate").as("est_union"))
    val result = unionEst
      .join(single.select(col("_g_").as("g_a"),
        col("estimate").as("est_a")), "g_a")
      .join(single.select(col("_g_").as("g_b"),
        col("estimate").as("est_b")), "g_b")
      .select(col("g_a"), col("g_b"), col("est_a"), col("est_b"),
        col("est_union"),
        ((col("est_a") + col("est_b")) - col("est_union"))
          .as("est_intersect"),
        (((col("est_a") + col("est_b")) - col("est_union"))
          / col("est_union")).as("jaccard_est"))
    // cache lifecycle (r18 ADVICE — the hash-table persist used to
    // outlive the call with no disclosed contract, silently accumulating
    // cached tables across calls in a long-lived session): the returned
    // table is pair-sized (≤ maxGroups²/2 rows of seven scalars — never
    // data-sized), so materialize it eagerly and drop the cache before
    // returning. Scoring runs at call time, nothing survives the call.
    val pinned = Materialize.round(result)
    hashes.unpersist()
    pinned
  }

  // --------------------------------------------------------------- count-min

  /** Per-slot hash for the count-min family: splitmix64 re-mix of the
    * avalanched base, reduced by UNSIGNED mod (the same
    * `remainderUnsigned` convention as MinHash, so a DuckDB UHUGEINT `%`
    * replays it without sign gymnastics). */
  private val cmBucketUdf = udf { (base: Long, i: Int, width: Int) =>
    java.lang.Long.remainderUnsigned(
      graft.functions.TextKernels.mix64(base + i), width.toLong).toInt
  }
  private val strHashUdf =
    udf { (s: String) =>
      // loud, named failure: Spark passes a NULL key straight into a
      // reference-typed UDF arg, and polyHash64 would NPE the task —
      // four retries deep, after the expensive exact-count aggregate
      require(s != null,
        "countMin/amsF2: NULL key — filter or coalesce the key column upstream")
      graft.functions.TextKernels.polyHash64Mixed(s)
    }

  /** Count-min frequency sketch (Cormode & Muthukrishnan 2005) — the
    * mergeable, ORACLE-REPLAYABLE approximate counter: `depth` rows of
    * `width` integer buckets; item x adds its count to bucket
    * `mix64(h(x) + i) mod width` in every row i, and the estimate is the
    * MIN over rows — always ≥ the true count, over by at most
    * 2N/width with probability 1 − 2^−depth. Complements [[kmvDistinct]]
    * (distinct cardinality) with frequency mass, and [[Analytics
    * .heavyHitters]] (exact, two passes) with a one-pass mergeable
    * summary of EVERY key at O(depth·width) space.
    *
    * Plan shape for 100 TB: exact per-key partial counts FIRST (one
    * map-side-combined aggregate — CMS is linear, so adding a key's total
    * once equals adding its occurrences one by one), then only DISTINCT
    * keys are hashed, exploded `depth` ways, and re-aggregated into the
    * d·w-cell table. The sketch of a union of corpora is the cell-wise
    * sum — plain `groupBy(row, bucket).sum` over concatenated sketches.
    * All integer arithmetic: the oracle replays every cell and estimate
    * bit for bit.
    *
    * Output: (`row_i`, `bucket`, `cnt`) — at most depth·width rows. */
  def countMinBuild(df: DataFrame, keyCol: String, depth: Int,
                    width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be positive")
    val counts = df.groupBy(col(keyCol).cast("string").as("_k_"))
      .agg(count(lit(1)).as("_c_"))
      .withColumn("_b_", strHashUdf(col("_k_")))
    counts
      .select(explode(sequence(lit(0), lit(depth - 1))).as("row_i"),
        col("_b_"), col("_c_"))
      .select(col("row_i"),
        cmBucketUdf(col("_b_"), col("row_i"), lit(width)).as("bucket"),
        col("_c_"))
      .groupBy("row_i", "bucket")
      .agg(sum(col("_c_")).as("cnt"))
  }

  /** Point estimates from a [[countMinBuild]] sketch for `probes`
    * (single column `keyCol`): min over rows of the addressed cells,
    * 0 for never-bucketed keys. `depth`/`width` must match the build. */
  def countMinEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
                       depth: Int, width: Int): DataFrame = {
    val addressed = probes
      .select(col(keyCol), strHashUdf(col(keyCol).cast("string")).as("_b_"))
      .select(col(keyCol), col("_b_"),
        explode(sequence(lit(0), lit(depth - 1))).as("row_i"))
      .select(col(keyCol), col("row_i"),
        cmBucketUdf(col("_b_"), col("row_i"), lit(width)).as("bucket"))
    addressed.join(broadcast(sketch), Seq("row_i", "bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** HyperLogLog register table (Flajolet/Fusy/Gandouet/Meunier, AofA
    * 2007) over `mix64`-avalanched keys: the top `p` hash bits address a
    * register, the rank of the highest set bit among the remaining
    * `64 − p` bits (counted from the top; 64−p+1 for an all-zero tail)
    * is the register's candidate, registers keep the max.
    *
    * Engine-portable by construction: the bit-rank is
    * `(64−p+1) − bitLength(tail)` with bitLength read as
    * `length(bin(tail))` — both Spark and DuckDB print minimal binary
    * strings, so the oracle replays the rank with NO float log2 (the
    * power-of-two boundary trap). A group's register table is at most
    * `2^p` rows (absent register = 0), so the shuffle after the map-side
    * partial max is `2^p` rows per group REGARDLESS of input size — the
    * whole point at 100 TB, and why Spark's own approx_count_distinct
    * is this exact shape (theirs is HLL++ with engine-private registers
    * that no oracle can replay; these registers are the paper's).
    *
    * Mergeable: max over unioned register tables = the sketch of the
    * union — [[hllEstimate]] accepts any such merge.
    *
    * Output: (groupCols…, register, rho) — only non-zero registers. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], idCol: String,
                   p: Int = 12): DataFrame = {
    require(p >= 4 && p <= 18, s"precision p must be in [4,18], got $p")
    val tailBits = 64 - p
    // same NULL/uncastable-id contract as [[hashCol]] (round 18): a NULL
    // hash would address register NULL with rho NULL — a phantom register
    // row the estimator folds in silently, and one DuckDB would never
    // reproduce. Raise by name instead.
    val h = mixUdf(Guards.longIdOrRaise(df, idCol, "hllRegisters"))
    val tail = h.bitwiseAND(lit((1L << tailBits) - 1L))
    df.select(groupCols.map(col) :+
        shiftrightunsigned(h, tailBits).as("register") :+ tail.as("_t_"): _*)
      .withColumn("rho",
        when(col("_t_") === 0L, lit(tailBits + 1))
          .otherwise(lit(tailBits + 1) - length(bin(col("_t_")))))
      .groupBy((groupCols :+ "register").map(col): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Cardinality estimates from [[hllRegisters]] output (same `p`).
    * The harmonic denominator Σ 2^−rho is computed EXACTLY as the
    * integer Σ 2^(K−rho) with K = 64−p+1 (absent registers contribute
    * 2^K), summed in DECIMAL(38,0) — no float accumulation order to
    * disagree on; the only doubles are the final α·m²·2^K / S division
    * chain and the paper's small-range linear-counting branch
    * `m·ln(m/V)` (V = zero registers), each a fixed program of
    * correctly-rounded IEEE ops that replays bit-identically.
    *
    * Output: (groupCols…, n_zero_registers, est_distinct BIGINT). */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String],
                  p: Int = 12): DataFrame = {
    val m = 1L << p
    val bigK = 64 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val grouped = registers
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("_nreg_"),
        sum(expr(s"cast(shiftleft(1L, $bigK - rho) as decimal(38,0))"))
          .as("_spart_"))
    grouped
      .withColumn("n_zero_registers", lit(m) - col("_nreg_"))
      .withColumn("_s_", col("_spart_") +
        col("n_zero_registers").cast("decimal(38,0)") *
          lit(BigDecimal(2).pow(bigK).toBigInt.toString).cast("decimal(38,0)"))
      .withColumn("_eraw_",
        lit(alpha * m.toDouble * m.toDouble * math.pow(2.0, bigK)) /
          col("_s_").cast("double"))
      .withColumn("est_distinct",
        floor(when(col("_eraw_") <= lit(2.5 * m) &&
            col("n_zero_registers") > 0,
          lit(m.toDouble) *
            log(lit(m.toDouble) / col("n_zero_registers").cast("double")))
          .otherwise(col("_eraw_"))).cast("long"))
      .select(groupCols.map(col) :+ col("n_zero_registers") :+
        col("est_distinct"): _*)
  }

  // --------------------------------------------------------------------- AMS

  /** AMS "tug-of-war" sketch for the second frequency moment F₂ = Σ f²
    * (Alon/Matias/Szegedy, STOC 1996) — the one-pass mergeable estimate
    * of SELF-JOIN SIZE, the quantity a join planner wants before it
    * commits to a key (skew mass, output-size bound) and the repetition
    * mass of a corpus column. Estimator r of `depth`: every key gets a
    * pseudo-random sign `1 − 2·(mix64(h(x)+r) & 1)`, the sketch keeps
    * `S_r = Σ sign·f`, and `S_r²` is an unbiased F₂ estimate; the output
    * averages the `depth` estimates (integer div — variance drops 1/d).
    *
    * Plan shape: exact per-key counts first (one map-side-combined
    * aggregate — signs are per-KEY, so Σ sign·f over keys equals the
    * row-at-a-time stream), then DISTINCT keys explode `depth` ways into
    * d running sums per group. Merge of two corpora's sketches = add the
    * S_r vectors componentwise. Integer end to end (same mix64 chain as
    * [[countMinBuild]], same string hash), so a SQL oracle replays every
    * sum bit for bit; |S_r| ≤ N keeps S_r² inside BIGINT up to N ≈ 3·10⁹
    * per group — beyond that, widen to decimal at the square.
    *
    * Output: one row per group — (groupCols…, f2_est, n_rows) where
    * `n_rows` = group row count (the F₁ the caller normalizes by). */
  def amsF2(df: DataFrame, groupCols: Seq[String], keyCol: String,
            depth: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val counts = df
      .groupBy((groupCols.map(col) :+
        col(keyCol).cast("string").as("_k_")): _*)
      .agg(count(lit(1)).as("_f_"))
      .withColumn("_b_", strHashUdf(col("_k_")))
    counts
      .select((groupCols.map(col) :+ col("_b_") :+ col("_f_") :+
        explode(sequence(lit(0), lit(depth - 1))).as("_r_")): _*)
      .withColumn("_sgn_", lit(1L) - lit(2L) * (mixUdf(col("_b_") + col("_r_"))
        .bitwiseAND(lit(1L))))
      .groupBy((groupCols.map(col) :+ col("_r_")): _*)
      .agg(sum(col("_sgn_") * col("_f_")).as("_s_"),
        sum(col("_f_")).as("_n_"))
      .groupBy(groupCols.map(col): _*)
      // S_r^2 in DECIMAL(38,0): a group past ~3e9 rows pushes |S_r|^2
      // over LONG and the plain multiply would WRAP silently (ANSI off),
      // corrupting the F2 estimate with no error anywhere
      .agg(sum(col("_s_").cast("decimal(38,0)") * col("_s_")).as("_sq_"),
        max(col("_n_")).as("n_rows"))
      .select((groupCols.map(col) :+
        expr(s"_sq_ div CAST($depth AS BIGINT)").as("f2_est") :+
        col("n_rows")): _*)
  }

  /** MERGEABLE relative-error quantile sketch — the approximate,
    * shard-and-merge companion to the exact quantile ops (qd01–qd03):
    * bucket every non-negative long by its DECIMAL width and first
    * `sigDigits` significant digits, count per bucket. The bucket of a
    * value is a pure string program (`(length(v), substr(v, 1,
    * sigDigits))` of its decimal spelling), so — unlike DDSketch's
    * `⌊log_γ v⌋` (Masson/Lee/Rong, VLDB 2019) or HdrHistogram's binary
    * mantissa — there is no float log anywhere, and a SQL oracle replays
    * every bucket id exactly. Same guarantee CLASS as DDSketch: buckets
    * are geometric in the value, so the reported quantile is the true
    * bucket lower bound with relative width ≤ 10^-(sigDigits-1) (1 % at
    * the default 3), independent of N and of the value range.
    *
    * Mergeability is the point at scale: sketches of shards/days/engines
    * combine by bucket-count ADDITION ([[mergeQuantileSketches]] — an
    * order-free grouped sum, the HLL/KMV discipline), and the state is
    * bounded by the bucket domain (≤ 9·10^(sigDigits-1) per decimal
    * width, ~19 widths for longs) whatever the data size. NULLs drop
    * (count semantics); negative AND fractional values fail IN-PLAN via
    * `raise_error` (a silent drop would skew every rank, and a silent
    * `cast("long")` floor of 1.9 → 1 would misbucket — quantize
    * continuous data to integer units upstream, and widen with a sign
    * column if signed data needs sketching).
    *
    * Output: (blen, bkey, cnt) — decimal width, leading-digit key,
    * count. */
  def decimalQuantileSketch(df: DataFrame, valueCol: String,
                            sigDigits: Int = 3): DataFrame =
    bucketCounts("decimalQuantileSketch", df, Nil, valueCol, sigDigits)

  /** The bucket program of [[decimalQuantileSketch]] per `groupCols`
    * group: (groupCols…, blen, bkey, cnt). `op` names the raise. */
  private def bucketCounts(op: String, df: DataFrame, groupCols: Seq[String],
                           valueCol: String, sigDigits: Int): DataFrame = {
    require(sigDigits >= 1 && sigDigits <= 15,
      s"sigDigits must be in [1, 15], got $sigDigits")
    // Both round-trips: double catches sub-2^53 fractions, decimal(38,18)
    // catches wide-DECIMAL fractions above 2^53 that round to the same
    // double as their floor. Residual blind spot: scale>18 decimals with
    // |fraction| < 5e-19 — quantize upstream.
    val v = col(valueCol).cast("long")
    val checked = when(
        v >= 0L &&
          col(valueCol).cast("double") === v.cast("double") &&
          col(valueCol).cast("decimal(38,18)") === v.cast("decimal(38,18)"),
        v)
      .otherwise(raise_error(concat(
        lit(s"$op: $valueCol must be an integer >= 0, got "),
        coalesce(col(valueCol).cast("string"), lit("NULL")))))
    val g = groupCols.map(col)
    df.where(col(valueCol).isNotNull)
      .select(g :+ checked.cast("string").as("_s_"): _*)
      .select(g :+ length(col("_s_")).cast("long").as("blen") :+
        substring(col("_s_"), 1, sigDigits).cast("long").as("bkey"): _*)
      .groupBy(g :+ col("blen") :+ col("bkey"): _*).agg(count(lit(1)).as("cnt"))
  }

  /** Union of [[decimalQuantileSketch]] outputs = the sketch of the data
    * union: one grouped sum, order-free, associative — run it over
    * per-shard sketches, per-day checkpoints, or cross-engine dumps.
    * Works for grouped sketches too: pass their group columns. A sketch
    * table does not carry its sigDigits; merging sketches built at
    * DIFFERENT sigDigits is still safe — the quantile walk orders
    * buckets by their NUMERIC lower bound `est` (not a sigDigits-dependent
    * code), which keeps `est ≤ truth` provable for any mix — but the
    * error bound degrades to the COARSEST sigDigits present, so build
    * shard sketches at one agreed sigDigits. */
  def mergeQuantileSketches(sketches: Seq[DataFrame],
                            groupCols: Seq[String] = Nil): DataFrame = {
    require(sketches.nonEmpty, "at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy((groupCols ++ Seq("blen", "bkey")).map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Per-group [[decimalQuantileSketch]] — doc-length-per-domain,
    * price-per-segment, latency-per-endpoint: one bucket aggregate keyed
    * by (group, bucket), state ≤ bucket-domain rows PER GROUP. Output:
    * (groupCol, blen, bkey, cnt). */
  def decimalQuantileSketchBy(df: DataFrame, groupCol: String,
                              valueCol: String,
                              sigDigits: Int = 3): DataFrame =
    bucketCounts("decimalQuantileSketchBy", df, Seq(groupCol), valueCol, sigDigits)

  /** Per-group quantiles from a [[decimalQuantileSketchBy]] sketch —
    * same integer ceil-rank / bucket-lower-bound program as
    * [[sketchQuantiles]], but the cumulative walk is a KEY-PARTITIONED
    * window over the grouped bucket table (per-group bucket-domain-sized
    * frames, no global sort), ranks join back null-safely on the group
    * key (the NULL group the sketch keeps gets its quantiles too), and
    * the election is one min(est) per (group, quantile). Output:
    * (groupCol, q_milli, n, rank, est). */
  def sketchQuantilesBy(sketch: DataFrame, groupCol: String,
                        qMillis: Seq[Long]): DataFrame =
    quantileWalk(sketch, Seq(groupCol), qMillis)

  /** Quantile estimates from a [[decimalQuantileSketch]]: for each
    * requested `q` (in milli, e.g. 500 = median) the estimate is the
    * LOWER BOUND of the bucket holding the rank-⌈q·N/1000⌉ value — all
    * integer (the ceiling is `(q·N + 999) div 1000`; the bound rebuilds
    * the bucket's digits as a string, no power-of-ten float), so
    * estimates replay exactly, and `est ≤ true < est +
    * 10^(blen−sigDigits)` gives the relative-error contract. The
    * cumulative walk orders buckets by the numeric lower bound `est`
    * itself — for a single-sigDigits sketch that coincides with
    * (blen, bkey) order, and for [[mergeQuantileSketches]] unions of
    * mixed-sigDigits shards it is the order that keeps `est ≤ true`
    * provable; no sigDigits parameter is needed (or accepted) here, so
    * a mismatched caller value can never corrupt the election. ONE
    * ordered window over the POST-AGGREGATION bucket table
    * (bucket-domain-sized by construction — the accepted post-agg
    * window class), then a broadcast theta-join against the requested
    * ranks and a min(est) election.
    *
    * Output: (q_milli, n, rank, est), one row per requested quantile. */
  def sketchQuantiles(sketch: DataFrame, qMillis: Seq[Long]): DataFrame =
    quantileWalk(sketch, Nil, qMillis)

  /** The cumulative walk of [[sketchQuantiles]] per `groupCols` group:
    * the window is partitioned by the group, the requested quantiles are
    * exploded over each group's total in the plan, and the ranks join
    * back null-safely on the group (a NULL group is a group) with the
    * `cum >= rank` theta condition. Output: (groupCols…, q_milli, n,
    * rank, est). */
  private def quantileWalk(sketch: DataFrame, groupCols: Seq[String],
                           qMillis: Seq[Long]): DataFrame = {
    require(qMillis.nonEmpty, "at least one quantile")
    require(qMillis.forall(q => q >= 0 && q <= 1000),
      s"quantiles must be in [0, 1000] milli, got $qMillis")
    val g = groupCols.map(col)
    val cum = sketch.withColumn("est", concat(col("bkey").cast("string"),
          expr(s"repeat('0', CAST(blen - length(CAST(bkey AS STRING)) AS INT))"))
        .cast("long"))
      .withColumn("cum", sum(col("cnt")).over(Window.partitionBy(g: _*)
        .orderBy(col("est"), col("blen"), col("bkey"))))
    val keys = groupCols.indices.map(i => s"_g${i}_")
    val ranks = sketch.groupBy(g: _*).agg(sum(col("cnt")).as("n"))
      .select(g.zip(keys).map { case (c, k) => c.as(k) } ++ Seq(col("n"),
        explode(array(qMillis.map(lit): _*)).as("q_milli")): _*)
      .withColumn("rank", greatest(lit(1L),
        expr("(q_milli * n + 999) div 1000")))
    val sameGroup = groupCols.zip(keys).map { case (c, k) => col(c) <=> col(k) }
    cum.join(broadcast(ranks), (sameGroup :+ (col("cum") >= col("rank"))).reduce(_ && _))
      .groupBy((groupCols ++ Seq("q_milli", "n", "rank")).map(col): _*)
      .agg(min(col("est")).as("est"))
  }
}

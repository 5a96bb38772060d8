package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Product/behavioral analytics operators over event streams — funnel
  * progression, retention cohorts, interval coalescing, exact group
  * quantiles, fixed-bin histograms, and exact-sum linear fit. The
  * reference's BI layer (`demy` formula group-bys) stops at flat
  * aggregates; these are the standard next tier every analytics engine
  * ships, re-expressed as shuffle-minimal window/join programs.
  *
  * Portability discipline (the repo-wide oracle rules): every derived
  * number is either pure integer arithmetic, an exact DECIMAL sum, or a
  * fixed single-expression IEEE double program (identical parenthesization
  * replayed in SQL), so DuckDB hash-gates each operator bit for bit.
  */
object Analytics {

  /** Per-basket wedge bound for the basket self-join guards
    * ([[coPurchaseTopK]], [[associationRules]] via [[basketItems]]) —
    * the 2^27 family constant shared with
    * [[FuzzyLookup.CandidatePairBound]] / [[Similarity.BruteForcePairBound]]
    * / `Dedup.ngramJaccardPairs`, applied to the HOTTEST basket's size²
    * (the row count the self-join emits from that one key, inside one
    * task): dormant on healthy bounded baskets at ANY corpus size
    * (TPC-H ≤7-line orders give 49 per key forever), raising at
    * ~11.6k-item baskets — far below the 10^5-item crawler session whose
    * 10^10 single-key rows are an effective hang. */
  val BasketPairBound: Long = 1L << 27

  /** Corpus-wide amplification bound at the DEFAULT `pairBound`: the
    * basket self-join may emit at most this many rows PER INPUT ROW
    * (Σ size² / N = the size-weighted mean basket size). Healthy
    * retail/order data sits in single digits at any scale; ~1024 means
    * the join multiplies the corpus a thousandfold — the many-
    * moderately-hot-baskets explosion no single key trips. The guards
    * derive the live bound as `max(this, pairBound >> 17)` (= 1024 at
    * the default 2^27), so raising `pairBound` relaxes BOTH statistics —
    * round-19 review catch: the amplification check used this constant
    * directly, making the documented "accept a larger cost via a larger
    * bound" contract unreachable without disabling the hot-key wedge
    * guard too — while lowering `pairBound` (tight per-key budgets)
    * keeps the floor instead of collapsing amp below any real mean
    * basket size. */
  val BasketAmplificationBound: Long = 1024L

  /** Ordered funnel: for each user, the time of FIRST completion of each
    * step, where step k only counts if it happens strictly after the
    * user's step-(k-1) completion time. Returns one row per user who
    * completed step 1, with nullable `t1..tk` timestamp columns.
    *
    * Plan: k filtered aggregates chained by an equi-join on the user key —
    * each round is `filter(step) ⋈ acc on user, ts > prev, min(ts)`.
    * Each step's filter shrinks the fact table before its shuffle, the
    * join key is the user id throughout (AQE coalesces the k small
    * shuffles), and `min` makes the result independent of tie order. At
    * 100 TB this is k passes over an ever-shrinking slice — no window
    * over the full event history, no per-user collect.
    */
  def funnelTimes(df: DataFrame, userCol: String, tsCol: String,
                  stepCol: String, steps: Seq[String]): DataFrame =
    funnelFold(df, userCol, tsCol, stepCol, steps)(_ => lit(true))

  /** The ordered-funnel fold of [[funnelTimes]] and [[windowFunnelTimes]]:
    * step k takes the earliest `_ts_` after `t(k-1)` that `inWindow`
    * admits. */
  private def funnelFold(df: DataFrame, userCol: String, tsCol: String,
                         stepCol: String, steps: Seq[String])(
      inWindow: Column => Column): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    val first = df.where(col(stepCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
    steps.zipWithIndex.drop(1).foldLeft(first) { case (acc, (step, i)) =>
      val prev = s"t$i"
      val cur = s"t${i + 1}"
      val hit = df.where(col(stepCol) === step)
        .select(col(userCol), col(tsCol).as("_ts_"))
      // left join keeps mid-funnel stallers: a null prev (or no hit row)
      // nulls the `when`, so min() yields null — step not reached
      acc.join(hit, Seq(userCol), "left")
        .groupBy((col(userCol) +: (1 to i).map(j => col(s"t$j"))): _*)
        .agg(min(when(col("_ts_") > col(prev) && inWindow(col("_ts_")),
          col("_ts_"))).as(cur))
    }
  }

  /** Multi-touch LINEAR attribution — the equal-credit companion to the
    * as-of last-touch rollup (at01): every conversion's integer revenue
    * splits across ALL of the user's touches inside the lookback window
    * `(conv_ts − windowSeconds, conv_ts]`. Credit is exactly conserved
    * by largest-remainder allocation: each touch gets `rev div n` and
    * the `rev mod n` leftover milli-units go one each to the MOST RECENT
    * touches (recency order, tie-broken by `touchTieCol`) — so the
    * per-channel rollup sums exactly to total conversion revenue, and
    * being pure integer arithmetic it replays on any engine.
    * Conversions with no in-window touch credit the `direct` channel in
    * full (the at01 convention).
    *
    * Negative revenue (refunds/chargebacks) is handled EXPLICITLY: the
    * split runs on `abs(rev)` and the sign is re-applied per share, so
    * credit is exactly conserved for either sign (naive `div`/`%` on a
    * negative value truncates toward zero in Spark but floors in
    * engines with floor-division, losing remainder credits AND engine
    * agreement — the split itself must stay non-negative).
    *
    * Plan: one user-key equi-join with the window range as a residual
    * filter (fan-out = touches-per-user-window × conversions-per-user,
    * the analytics-join shape), one conversion-key window for (n, rank),
    * one channel rollup with map-side combine. For 100 TB event logs
    * with hot users, pre-bucket by time and join on (user, bucket) — the
    * [[Temporal.rangeJoin]] recipe; the windowed shape here is the
    * within-bucket step of that plan.
    *
    * Output: (channel, n_credits, revenue_milli), one row per channel
    * (including `direct`). */
  def linearAttribution(conversions: DataFrame, touches: DataFrame,
                        userCol: String, tsCol: String, channelCol: String,
                        revenueMilliCol: String, convIdCol: String,
                        touchTieCol: String,
                        windowSeconds: Long): DataFrame =
    attribute(conversions, touches, userCol, tsCol, channelCol,
        revenueMilliCol, convIdCol, touchTieCol, windowSeconds) { (joined, w) =>
      val wr = w.orderBy(col("_tts_").desc, col("_tid_").desc)
      joined
        .withColumn("_n_", count(lit(1)).over(w))
        .withColumn("_r_", row_number().over(wr))
        .withColumn("_mag_", expr("abs(_rev_) div _n_") +
          when(col("_r_") <= expr("abs(_rev_) % _n_"), 1L).otherwise(0L))
    }

  /** Multi-touch POSITION-BASED ("U-shaped") attribution — the third
    * member of the attribution family (at01 last-touch, at02 linear):
    * 40 % of a conversion's revenue to the FIRST in-window touch, 40 %
    * to the LAST, the remaining 20 % split equally across the middles.
    * One touch takes all; two touches split 50/50.
    *
    * Exactly-conserving integer scheme (weighted largest remainder):
    * per conversion with n ≥ 3 touches, integer weights
    * w = 40·(n−2) for the endpoints and 20 for each middle
    * (W = Σw = 100·(n−2)); n ≤ 2 uses w = 1, W = n. Each touch gets
    * `abs(rev)·w div W`, and the leftover `(Σ abs(rev)·w mod W) / W`
    * whole milli-units go one each to the touches with the LARGEST
    * fractional part `abs(rev)·w mod W` (tie → most recent, then
    * `touchTieCol`). The sign is re-applied per share (the at02
    * refund convention), so credit is conserved for either sign and
    * the division arithmetic stays non-negative — truncating and
    * flooring engines agree. Conversions with no in-window touch
    * credit `direct` in full.
    *
    * Plan: identical shape to [[linearAttribution]] — one user-key
    * equi-join with the window as a residual, one conversion-key window
    * for (n, position ranks, remainder ranks), one channel rollup. The
    * same [[Temporal.rangeJoin]] bucketing recipe applies at 100 TB.
    *
    * Output: (channel, n_credits, revenue_milli). */
  def positionAttribution(conversions: DataFrame, touches: DataFrame,
                          userCol: String, tsCol: String, channelCol: String,
                          revenueMilliCol: String, convIdCol: String,
                          touchTieCol: String,
                          windowSeconds: Long): DataFrame =
    attribute(conversions, touches, userCol, tsCol, channelCol,
        revenueMilliCol, convIdCol, touchTieCol, windowSeconds) { (joined, w) =>
      val wAsc = w.orderBy(col("_tts_").asc, col("_tid_").asc)
      val weighted = joined
        .withColumn("_n_", count(lit(1)).over(w))
        .withColumn("_pos_", row_number().over(wAsc))
        .withColumn("_w_",
          when(col("_n_") <= 2, lit(1L))
            .otherwise(when(col("_pos_") === 1 || col("_pos_") === col("_n_"),
              lit(40L) * (col("_n_") - 2)).otherwise(lit(20L))))
        .withColumn("_bigw_",
          when(col("_n_") <= 2, col("_n_").cast("long"))
            .otherwise(lit(100L) * (col("_n_") - 2)))
        .withColumn("_floor_", expr("abs(_rev_) * _w_ div _bigw_"))
        .withColumn("_frac_", expr("abs(_rev_) * _w_ % _bigw_"))
      val wRem = w.orderBy(col("_frac_").desc, col("_tts_").desc,
        col("_tid_").desc)
      weighted
        .withColumn("_fsum_", sum(col("_frac_")).over(w))
        // Σ frac is an exact multiple of W (it is the total withheld
        // credit) — integer div, not float division
        .withColumn("_extra_", expr("_fsum_ div _bigw_"))
        .withColumn("_rr_", row_number().over(wRem))
        .withColumn("_mag_", col("_floor_") +
          when(col("_rr_") <= col("_extra_"), 1L).otherwise(0L))
    }

  /** The body [[linearAttribution]] and [[positionAttribution]] share:
    * each conversion meets its user's touches in `(conv_ts − windowSeconds,
    * conv_ts]`, `share` gives every (conversion, touch) row its unsigned
    * credit `_mag_` (`w` is the per-conversion window), the revenue's sign
    * is re-applied, conversions with no touch credit `direct` in full, and
    * credit rolls up per channel. */
  private def attribute(conversions: DataFrame, touches: DataFrame,
                        userCol: String, tsCol: String, channelCol: String,
                        revenueMilliCol: String, convIdCol: String,
                        touchTieCol: String, windowSeconds: Long)(
      share: (DataFrame, WindowSpec) => DataFrame): DataFrame = {
    require(windowSeconds > 0, "windowSeconds must be positive")
    val conv = conversions.select(col(userCol), col(tsCol).as("_cts_"),
      col(convIdCol).as("_cid_"), col(revenueMilliCol).cast("long").as("_rev_"))
    val t = touches.select(col(userCol), col(tsCol).as("_tts_"),
      col(channelCol).as("channel"), col(touchTieCol).as("_tid_"))
    val joined = conv.join(t, Seq(userCol))
      .where(col("_tts_") <= col("_cts_") &&
        col("_tts_") > col("_cts_") - expr(s"INTERVAL $windowSeconds SECONDS"))
    val w = Window.partitionBy(col("_cid_"))
    val credited = share(joined, w).select(col("channel"),
      (when(col("_rev_") < 0, lit(-1L)).otherwise(lit(1L)) * col("_mag_"))
        .as("_share_"))
    val direct = conv.join(
        joined.select(col("_cid_")).distinct(), Seq("_cid_"), "left_anti")
      .select(lit("direct").as("channel"), col("_rev_").as("_share_"))
    credited.unionByName(direct)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_credits"), sum(col("_share_")).as("revenue_milli"))
  }

  /** Retention cohort matrix: users are assigned to the period of their
    * first activity (`cohort_period`), and each (cohort, offset) cell
    * counts distinct users active `period_offset` periods later. Periods
    * are integer epoch-second buckets (`floor(epoch) div periodSeconds`)
    * so the bucketing replays exactly on any engine.
    *
    * Plan: min-aggregate on the user key → distinct (user, period) →
    * user-key join → (cohort, offset) count. Three shuffles, each on a
    * high-cardinality key, each preceded by map-side partial aggregation;
    * the user→cohort side is a 1-row-per-user table, orders of magnitude
    * smaller than the event log it joins.
    */
  def retentionCohorts(df: DataFrame, userCol: String, tsCol: String,
                       periodSeconds: Long): DataFrame = {
    require(periodSeconds > 0, s"periodSeconds must be positive")
    val p = expr(s"cast($tsCol as bigint) div $periodSeconds")
    val activity = df.select(col(userCol), p.as("_p_")).distinct()
    val cohorts = activity.groupBy(col(userCol))
      .agg(min(col("_p_")).as("cohort_period"))
    activity.join(cohorts, Seq(userCol))
      .groupBy(col("cohort_period"),
        (col("_p_") - col("cohort_period")).as("period_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Coalesce overlapping-or-touching `[startCol, endCol]` intervals per
    * key (the classic merge-intervals sweep, as one window program): an
    * interval starts a new merged group iff its start exceeds the running
    * max of all previous ends. One shuffle on the key, one sort — and the
    * group ids are order-stable under start-ties because any tied interval
    * sees a running max ≥ its own start.
    *
    * Output: `(key, merged_seq, m_start, m_end, n_intervals)`, merged_seq
    * 1-based in start order. `tieCol` only determinizes the sort; the
    * merged result is invariant to it.
    */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
                     endCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(col(startCol), col(endCol), col(tieCol))
    val prevMax = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val grouped = df
      .withColumn("_pm_", prevMax)
      .withColumn("_new_",
        when(col("_pm_").isNull || col(startCol) > col("_pm_"), 1L)
          .otherwise(0L))
      .withColumn("_grp_", sum(col("_new_"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("_grp_"))
      .agg(min(col(startCol)).as("m_start"), max(col(endCol)).as("m_end"),
        count(lit(1)).as("n_intervals"))
    grouped.select(col(keyCol),
      row_number().over(Window.partitionBy(keyCol).orderBy(col("m_start")))
        .as("merged_seq"),
      col("m_start"), col("m_end"), col("n_intervals"))
  }

  /** Exact per-group percentiles by rank selection: percentile p (an
    * INTEGER 0..100) picks the value at 1-based rank
    * `1 + (p * (n-1)) div 100` in the group's value order — the "lower"
    * interpolation, chosen because it is pure integer arithmetic and so
    * replays on any engine (type-/float-free, unlike the linear
    * interpolation percentile_cont does). Value ties make the selected
    * VALUE deterministic even though row_number's tie order is not.
    *
    * Plan: one shuffle + sort on the group key (the window), then a
    * broadcast join against the tiny percentile list. Exactness costs a
    * full per-group sort; at 100 TB prefer `approx_percentile` unless the
    * gate needs bit-identical answers (this op exists for when it does).
    */
  def groupQuantiles(df: DataFrame, keyCol: String, valCol: String,
                     percentiles: Seq[Int]): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 100),
      "percentiles must be integers in [0, 100]")
    val spark = df.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(keyCol).orderBy(col(valCol))
    // NULL values EXCLUDED from the rank (round-16): ascending order puts
    // nulls FIRST, so they occupied ranks 1..k and shifted every
    // percentile downward — and the bisect twins already filter them, so
    // the two documented-interchangeable paths disagreed on dirty data
    val ranked = df.select(col(keyCol), col(valCol))
      .where(col(valCol).isNotNull)
      .withColumn("_rn_", row_number().over(w))
      .withColumn("_n_", count(lit(1)).over(Window.partitionBy(keyCol)))
    val ps = percentiles.sorted.toDF("pct")
    ranked.join(broadcast(ps),
        col("_rn_") === lit(1) + expr("(pct * (_n_ - 1)) div 100"))
      .select(col(keyCol), col("pct"), col(valCol))
  }

  /** Fixed-bin histogram over `[lo, hi)`: bin ids come from the single
    * double expression `floor((x - lo) / (hi - lo) * nBins)` clamped to
    * `[0, nBins-1]` (under/overflow lands in the edge bins). Each IEEE op
    * is exactly rounded, so identical parenthesization in the SQL replay
    * gives identical bins. Output: observed bins only, with recomputed
    * `bin_lo`/`bin_hi` edges and counts — one partial+final aggregate,
    * no sort. */
  def histogram(df: DataFrame, valCol: String, lo: Double, hi: Double,
                nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")
    // dirty-data contract (round-16): NULLs are EXCLUDED (the SQL
    // aggregate convention — pre-fix they silently landed in bin 0
    // because greatest() SKIPS nulls), non-finite values raise by name
    // (NaN casts to long 0 — bin 0 again, invisibly)
    val checked = Guards.finiteOrRaise(col(valCol), col(valCol),
      Guards.nonFiniteMsg("histogram", valCol, col(valCol)))
    val raw = floor((checked - lit(lo)) / lit(hi - lo) * lit(nBins))
    val bin = least(lit(nBins - 1L), greatest(lit(0L), raw.cast("long")))
    val width: Column = lit(hi - lo) / lit(nBins)
    df.where(col(valCol).isNotNull).groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", lit(lo) + col("bin") * width)
      .withColumn("bin_hi", lit(lo) + (col("bin") + lit(1L)) * width)
      .select("bin", "bin_lo", "bin_hi", "n")
  }

  /** Basket-wedge admission shared by [[coPurchaseTopK]] and
    * [[associationRules]]: both operators self-join distinct (basket,
    * item) rows on the basket key, so their pair volume is Σ|basket|² — the
    * [[Graph.triangleStats]] wedge shape, where ONE hot basket (a crawler
    * session with 10⁵ items — routine in dirty event data) emits 10¹⁰
    * join rows from a single key: a hang, not a slow query.
    *
    *  1. `maxBasketSize > 0` caps every basket to its `maxBasketSize`
    *     highest-support items (global item support desc, ties by item
    *     asc — the standard market-basket remedy: a degenerate basket
    *     keeps its most informative lines, deterministically). 0 = no
    *     cap — the default, so healthy data is untouched.
    *  2. `pairBound > 0` reads BOTH degeneracy statistics off one
    *     [[Guards.fanOut]] probe over the materialized frame (a NULL
    *     basket never pairs, so it is neither probed nor counted):
    *      - the HOT-KEY wedge: max over baskets of size² (the exact row
    *        count the self-join emits from that one key, inside one
    *        task) raises BY NAME past `pairBound`;
    *      - the AMPLIFICATION ratio: Σ size² vs input rows — raises when
    *        the join would emit more than `max(1024, pairBound/2^17)`
    *        (1024× at the default bound) rows PER INPUT ROW, the many-
    *        moderately-hot-baskets shape no single key trips.
    *     Deliberately NOT the raw Σ size² total vs a fixed bound: on
    *     healthy bounded baskets Σ size² grows LINEARLY with the corpus (TPC-H ≤7-line orders: Σ ≈ 25·
    *     |orders| ≈ 3.7e8 at sf10, past any fixed 2^27-family constant),
    *     so a total bound false-raises on exactly the at-scale healthy
    *     data the guard must stay dormant for; both statistics above are
    *     scale-free on healthy data and catch both hang shapes. <= 0
    *     accepts the cost explicitly.
    *
    * Returns the capped frame MATERIALIZED ([[Materialize.round]]): it
    * feeds the probe and both self-join sides, so pinning it makes the
    * probe one cheap aggregate instead of a third distinct-scan. With it
    * comes, when the probe ran, the EXACT ordered-pair volume Σm² it
    * measured: the callers size their pair aggregate from it. */
  private def basketItems(df: DataFrame, basketCol: String, itemCol: String,
                          op: String, maxBasketSize: Int,
                          pairBound: Long): (DataFrame, Option[Long]) = {
    // establish the BASKET partitioning before the distinct, not after
    // it: hash(basket) satisfies the distinct's clustering on (basket,
    // item), since partition keys are a subset of the grouping keys, so
    // the dedup runs exchange-free on top of this one shuffle — and
    // because [[Materialize.round]] preserves output partitioning, the
    // probe's groupBy(basket) AND both sides of the callers' basket
    // self-joins reuse the same layout: one basket-keyed exchange in all.
    val distinctItems = df.select(col(basketCol), col(itemCol))
      .repartition(col(basketCol)).dropDuplicates()
    val capped =
      if (maxBasketSize <= 0) distinctItems
      else {
        val support = distinctItems.groupBy(col(itemCol))
          .agg(count(lit(1)).as("_supp_"))
        val w = Window.partitionBy(col(basketCol))
          .orderBy(col("_supp_").desc, col(itemCol))
        distinctItems.join(support, Seq(itemCol))
          .withColumn("_br_", row_number().over(w))
          .where(col("_br_") <= maxBasketSize)
          .select(col(basketCol), col(itemCol))
      }
    val items = Materialize.round(capped)
    // the hottest basket's m², Σm² and N from one fan-out probe
    val pairVolume =
      if (pairBound <= 0) None
      else {
        val f = Guards.fanOut(items, items, Seq(basketCol))
        for (hot <- f.hotLeft) yield { // None: nothing to probe
          val (hotM, hotKey) = (hot.rows, hot.key.get(0))
          require(hotM <= 3037000499L && hotM * hotM <= pairBound,
            s"$op: basket $hotKey holds $hotM distinct items — the basket " +
              s"self-join would emit ${BigInt(hotM) * BigInt(hotM)} rows " +
              "from this one key alone (inside a single task: an effective " +
              s"hang, not a slow query) against pairBound=$pairBound; cap " +
              "degenerate baskets with maxBasketSize (keeps each basket's " +
              "highest-support items), filter oversized sessions upstream, " +
              "or accept the cost explicitly with pairBound <= 0")
          // floor at the default constant: pairBound >> 17 alone would turn
          // a small per-key bound (e.g. a test's 500) into an always-raising
          // amplification check (amp < mean basket size on ANY basket data)
          val amp = math.max(BasketAmplificationBound, pairBound >> 17)
          val ampBound = java.math.BigInteger.valueOf(f.leftRows)
            .multiply(java.math.BigInteger.valueOf(amp))
          require(f.pairs.compareTo(ampBound) <= 0,
            s"$op: the basket self-join would emit ${f.pairs} rows from " +
              s"${f.leftRows} input rows (> ${amp}x amplification = " +
              "pairBound/2^17) — a corpus-wide explosion from many " +
              "oversized baskets that no single hot key trips; cap baskets " +
              "with maxBasketSize, or accept the cost explicitly with " +
              "pairBound <= 0")
          f.pairs.min(java.math.BigInteger.valueOf(Long.MaxValue)).longValue()
        }
      }
    (items, pairVolume)
  }

  /** Reduce-partition count for a basket pair aggregate, from the probe's
    * exact Σm² (ordered-pair upper bound on the join's fan-out): one
    * partition per ~64 MB of ~24-byte pair rows, never below the slot
    * count, capped at 32× slots. At the bench scale this computes exactly
    * the slot count — the callers then keep the stock groupBy plan
    * (map-side partial agg + one exchange), so driver-bench plans are
    * unchanged; past ~2 GB of pairs they switch to an explicit
    * key-repartition feeding ONE complete aggregate, because (a) 32
    * reduce partitions hold the whole (item, co_item) key space in 32
    * concurrent hash maps (r20 sf10 soak: 28 GB of aggregate spill on
    * rc01), and (b) map-side partial aggregation is pure overhead on
    * near-unique keys — each task buffers a giant map that collapses
    * almost nothing (guide §2.2/§2.5). */
  private[graft] def pairAggPartitions(spark: SparkSession,
                                           pairVolume: Long): Int = {
    val slots = spark.sparkContext.defaultParallelism
    // pairs-per-64MB-partition at ~24 B/pair; divide by the quotient so
    // an extreme Σm² cannot overflow a Long before the cap applies
    val byBytes = pairVolume / ((64L << 20) / 24L) + 1
    math.max(slots, math.min(32L * slots, byBytes)).toInt
  }

  /** `pairRows` ready for its pair aggregate on `keys`: past ~2 GB of
    * pairs ([[pairAggPartitions]] above the slot count), an explicit
    * key-repartition feeding ONE complete aggregate — hash(keys) satisfies
    * the groupBy's distribution, so no second exchange appears; otherwise
    * (bench scale, or no probe) the stock plan. */
  private def sizedForPairAgg(pairRows: DataFrame, pairVolume: Option[Long],
                              keys: String*): DataFrame = {
    val spark = pairRows.sparkSession
    pairVolume.map(pairAggPartitions(spark, _))
      .filter(_ > spark.sparkContext.defaultParallelism)
      .map(p => pairRows.repartition(p, keys.map(col): _*))
      .getOrElse(pairRows)
  }

  /** Item-to-item co-occurrence top-k ("bought X also bought Y"): for
    * each item, the k items most often sharing a basket with it. The
    * plan is the scalable item-pair walk: distinct (basket, item) first
    * (dedups repeat lines), self equi-join ON THE BASKET KEY (pairs
    * explode only within a basket — m items → m(m−1) pairs, so cost is
    * Σm², not |items|²), pair-count aggregate, per-item top-k window
    * (WindowGroupLimit). Hot-basket admission rides [[basketItems]]: the
    * hottest basket's m² and the corpus-wide Σm²/N amplification are
    * probed before the join, and a degenerate basket raises by name
    * pointing at `maxBasketSize` instead of hanging the join. Ties break
    * on the co-item id, making top-k deterministic. */
  def coPurchaseTopK(df: DataFrame, basketCol: String, itemCol: String,
                     k: Int, maxBasketSize: Int = 0,
                     pairBound: Long = BasketPairBound): DataFrame = {
    require(k > 0, "k must be positive")
    val (items, pairVolume) = basketItems(df, basketCol, itemCol,
      "coPurchaseTopK", maxBasketSize, pairBound)
    val pairRows = items.as("a")
      .join(items.as("b"), col(s"a.$basketCol") === col(s"b.$basketCol"))
      .where(col(s"a.$itemCol") =!= col(s"b.$itemCol"))
      .select(col(s"a.$itemCol").as("item"),
        col(s"b.$itemCol").as("co_item"))
    val pairs = sizedForPairAgg(pairRows, pairVolume, "item", "co_item")
      .groupBy(col("item"), col("co_item"))
      .agg(count(lit(1)).as("n_baskets"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("n_baskets").desc, col("co_item"))
    pairs.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** First-order transition matrix over per-key ordered event sequences:
    * count and probability of each (state → next state) step. One
    * shuffle on the key for the lag window, one aggregate on the state
    * pair; `prob` divides two exact longs in one IEEE op, so it replays
    * exactly. `tieCol` determinizes ordering of same-timestamp events —
    * without it the transition COUNTS themselves would be ambiguous. */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val steps = df
      .withColumn("_next_", lead(col(stateCol), 1).over(w))
      .where(col("_next_").isNotNull)
      .groupBy(col(stateCol).as("from_state"), col("_next_").as("to_state"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col("from_state"))
    steps.withColumn("prob",
      col("n").cast("double") / sum(col("n")).over(tot).cast("double"))
  }

  /** Calendar gap fill + forward fill: complete the daily spine between
    * the series' min and max day (one 1-row bounds aggregate exploded to
    * a date sequence), left-join the observations, and carry the last
    * non-null value forward (`last(ignoreNulls)` over an ordered frame —
    * the SQL-standard `IGNORE NULLS` program, so it replays). Adds
    * `is_gap` (no observation that day) and `filled`. Global window by
    * the same post-aggregation-calendar-size argument as
    * [[movingAverage]]; partition per series for per-entity fills. */
  def gapFillForward(df: DataFrame, dayCol: String,
                     valCol: String): DataFrame = {
    val bounds = df.agg(min(col(dayCol)).as("_lo_"), max(col(dayCol)).as("_hi_"))
    val spine = bounds.select(
      explode(expr("sequence(_lo_, _hi_, interval 1 day)")).as(dayCol))
    val w = Window.orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(df, Seq(dayCol), "left")
      .withColumn("is_gap", col(valCol).isNull)
      .withColumn("filled", last(col(valCol), ignoreNulls = true).over(w))
  }

  /** Chi-square test of independence over a contingency table: one row
    * per observed (rowCol, colCol) cell with the observed count, the
    * independence-expected count, the cell's chi² term, plus the total
    * statistic (`chi2_scaled`, 1e-9 fixed-point — per-cell terms are
    * quantized to integers BEFORE the total so the sum is order-free; raw
    * double terms would make the statistic partitioning-dependent) and
    * the degrees of freedom. Marginals are three aggregates over the
    * already-tiny cell table; only the first groupBy touches the fact
    * table. */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val obs = df.groupBy(col(rowCol), col(colCol))
      .agg(count(lit(1)).as("obs"))
    val rt = obs.groupBy(col(rowCol)).agg(sum(col("obs")).as("_rt_"))
    val ct = obs.groupBy(col(colCol)).agg(sum(col("obs")).as("_ct_"))
    val tot = obs.agg(sum(col("obs")).as("_n_"),
      count_distinct(col(rowCol)).as("_nr_"),
      count_distinct(col(colCol)).as("_nc_"))
    val cells = obs.join(rt, rowCol).join(ct, colCol)
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        expr("cast(_rt_ as double) * cast(_ct_ as double) / cast(_n_ as double)"))
      .withColumn("term",
        expr("""(cast(obs as double) - expected) * (cast(obs as double) - expected)
                / expected"""))
      .withColumn("dof", expr("cast((_nr_ - 1) * (_nc_ - 1) as bigint)"))
    cells.withColumn("chi2_scaled",
        sum(expr("cast(round(term * 1.0e9) as bigint)"))
          .over(Window.partitionBy()))
      .select(rowCol, colCol, "obs", "expected", "term", "chi2_scaled", "dof")
  }

  /** Population Stability Index between two samples of the same metric —
    * the standard drift monitor between a reference window and a current
    * window (PSI < 0.1 stable, > 0.25 shifted, by the usual rule of
    * thumb). Fixed bins over [lo, hi) with edge clamping (the
    * [[histogram]] bin program), add-one smoothing so empty bins never
    * hit ln(0), per-bin term `(pA − pB)·ln(pA/pB)` as a fixed double
    * program, and the PSI total as the SUM OF 1e-9-SCALED INTEGER terms
    * (the [[chiSquare]] discipline) — order-free, so the statistic
    * replays exactly. Output: one row per bin with both counts, both
    * smoothed proportions, the term, and the global `psi_scaled`. */
  def psiDrift(dfA: DataFrame, dfB: DataFrame, valCol: String,
               lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")
    def binned(df: DataFrame, cnt: String) = {
      // same dirty-data contract as [[histogram]]: NULLs excluded,
      // non-finite raises (a NaN-inflated bin 0 silently flips PSI)
      val checked = Guards.finiteOrRaise(col(valCol), col(valCol),
        Guards.nonFiniteMsg("psiDrift", valCol, col(valCol)))
      val raw = floor((checked - lit(lo)) / lit(hi - lo) * lit(nBins))
      df.where(col(valCol).isNotNull)
        .groupBy(least(lit(nBins - 1L), greatest(lit(0L), raw.cast("long")))
          .as("bin"))
        .agg(count(lit(1)).as(cnt))
    }
    val spark = dfA.sparkSession
    import spark.implicits._
    val bins = spark.range(0, nBins).select(col("id").as("bin"))
    val joined = bins
      .join(binned(dfA, "_ca_"), Seq("bin"), "left")
      .join(binned(dfB, "_cb_"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("_ca_"), lit(0L)).as("cnt_a"),
        coalesce(col("_cb_"), lit(0L)).as("cnt_b"))
    val tot = joined.agg(sum(col("cnt_a")).as("_na_"),
      sum(col("cnt_b")).as("_nb_"))
    joined.crossJoin(broadcast(tot))
      .withColumn("pa", expr(
        s"cast(cnt_a + 1 as double) / cast(_na_ + $nBins as double)"))
      .withColumn("pb", expr(
        s"cast(cnt_b + 1 as double) / cast(_nb_ + $nBins as double)"))
      .withColumn("term", expr("(pa - pb) * ln(pa / pb)"))
      .withColumn("psi_scaled",
        sum(expr("cast(round(term * 1.0e9) as bigint)"))
          .over(Window.partitionBy()))
      .select("bin", "cnt_a", "cnt_b", "pa", "pb", "term", "psi_scaled")
  }

  /** Per-group z-score outliers: rows whose value deviates from the group
    * mean by more than `threshold` sample standard deviations. Mean and
    * variance come from exact DECIMAL moment sums (one partial+final
    * aggregate), the group stats join back broadcast-style, and z itself
    * is one fixed double program — identical on both engines, so the
    * threshold cut can never flip a row between them. */
  def zscoreOutliers(df: DataFrame, keyCol: String, valCol: String,
                     threshold: Double): DataFrame = {
    def dec(c: Column) = c.cast("decimal(18,2)")
    val stats = df.groupBy(col(keyCol)).agg(
        count(lit(1)).as("_zn_"),
        sum(dec(col(valCol))).as("_zsx_"),
        sum(dec(col(valCol)) * dec(col(valCol))).as("_zsxx_"))
      .where(col("_zn_") > 1)
      .select(col(keyCol),
        expr("cast(_zsx_ as double) / cast(_zn_ as double)").as("_mean_"),
        expr("""sqrt((cast(_zn_ as double) * cast(_zsxx_ as double)
                - cast(_zsx_ as double) * cast(_zsx_ as double))
                / (cast(_zn_ as double) * (cast(_zn_ as double) - 1.0)))""")
          .as("_std_"))
    df.join(stats, keyCol)
      .withColumn("z", (col(valCol) - col("_mean_")) / col("_std_"))
      .where(abs(col("z")) > lit(threshold))
      .drop("_mean_", "_std_")
  }

  /** Trailing `nRows`-row moving average of `valCol` ordered by
    * `orderCol`, optionally per `partitionCols` series. Sums accumulate
    * in DECIMAL inside the window frame (exact, order-free) and divide by
    * the frame's row count — the leading partial frames average over what
    * exists, the standard BI convention. With empty `partitionCols` the
    * window is one global sort: fine AFTER an aggregation has reduced the
    * series to calendar size (the intended use), wrong on raw facts —
    * partition real per-entity series. Since round 17 the empty-partition
    * lane is self-defending: an eager row-count probe raises by name
    * above `singleTaskRowBound` ([[Guards.SingleTaskRowBound]], 2^22) —
    * a calendar-sized series never hits it, raw facts do; `<= 0` opts
    * into the sequential cost. */
  def movingAverage(df: DataFrame, partitionCols: Seq[String],
                    orderCol: String, valCol: String, nRows: Int,
                    singleTaskRowBound: Long =
                      Guards.SingleTaskRowBound): DataFrame = {
    require(nRows >= 1, s"nRows must be >= 1, got $nRows")
    if (partitionCols.isEmpty)
      Guards.singleTaskLaneProbe(df, "movingAverage(partitionCols = Nil)",
        singleTaskRowBound,
        "partition the series (partitionCols) or aggregate to calendar " +
          "size first — the global-sort lane is for reduced series by " +
          "contract; pass singleTaskRowBound = 0 to accept the cost")
    val base = if (partitionCols.isEmpty) Window.orderBy(col(orderCol))
      else Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(-(nRows - 1L), 0L)
    df.withColumn("mov_avg",
      sum(col(valCol)).over(w).cast("double") /
        count(col(valCol)).over(w).cast("double"))
  }

  /** Per-group Pearson correlation + least-squares line, exact-sum style:
    * the five moment sums (Σx, Σy, Σxy, Σx², Σy²) accumulate in
    * DECIMAL(18,2)-derived decimals — order-independent and exact — and
    * only the final closed-form combination runs in doubles, as one fixed
    * expression per output (division and sqrt are correctly rounded IEEE
    * ops, so the replay is bit-identical as long as every decimal sum
    * stays under 2^53 when cast — true for quantity/discount-sized inputs
    * at any realistic SF; pick small-magnitude columns, not prices).
    * One partial+final aggregate, no second pass (vs the naive
    * mean-centered two-pass formulation). */
  def linearFit(df: DataFrame, keyCol: String, xCol: String,
                yCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(18,2)")
    val sums = df.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"),
      sum(dec(col(xCol))).as("_sx_"), sum(dec(col(yCol))).as("_sy_"),
      sum(dec(col(xCol)) * dec(col(yCol))).as("_sxy_"),
      sum(dec(col(xCol)) * dec(col(xCol))).as("_sxx_"),
      sum(dec(col(yCol)) * dec(col(yCol))).as("_syy_"))
    // fixed double program; mirrors the oracle SQL token for token
    sums.select(col(keyCol), col("n"),
        expr("""cast(n as double) * cast(_sxy_ as double)
                - cast(_sx_ as double) * cast(_sy_ as double)""").as("_num_"),
        expr("""cast(n as double) * cast(_sxx_ as double)
                - cast(_sx_ as double) * cast(_sx_ as double)""").as("_dx_"),
        expr("""cast(n as double) * cast(_syy_ as double)
                - cast(_sy_ as double) * cast(_sy_ as double)""").as("_dy_"),
        col("_sx_"), col("_sy_"))
      .select(col(keyCol), col("n"),
        // degenerate groups (zero variance in x or y) yield NULL rather
        // than NaN/±Inf — the linearFit2 contract, now applied here too
        when(col("_dx_") > 0 && col("_dy_") > 0,
          col("_num_") / sqrt(col("_dx_") * col("_dy_"))).as("corr_r"),
        when(col("_dx_") > 0, col("_num_") / col("_dx_")).as("slope"),
        when(col("_dx_") > 0,
          (col("_sy_").cast("double") -
            (col("_num_") / col("_dx_")) * col("_sx_").cast("double")) /
            col("n").cast("double")).as("intercept"))
  }

  /** Two-feature least squares per group (y ~ b0 + b1·x1 + b2·x2) with
    * R², by exact normal equations: ten DECIMAL moment sums (order-free —
    * the one distributed pass), then Cramer's rule on the CENTERED 2×2
    * system as a FIXED double program, token-for-token the oracle's SQL.
    * Every double op is correctly rounded over exact inputs with a fixed
    * parenthesization, so the coefficients replay bit-identically — the
    * [[linearFit]] discipline one dimension up. Degenerate groups
    * (singular system, zero variance in y) yield NULL coefficients / R²
    * rather than ±Inf.
    *
    * Replay caveat (found the hard way): once a moment's scaled integer
    * exceeds 2^53 (sum(y²) here), DuckDB's direct wide-DECIMAL→DOUBLE
    * cast drifts by 1 ulp, while Spark's BigDecimal.doubleValue is
    * correctly rounded — the oracle must route that cast through VARCHAR
    * (strtod is correctly rounded) to stay bit-identical. */
  def linearFit2(df: DataFrame, keyCol: String, x1Col: String,
                 x2Col: String, yCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(18,2)")
    val x1 = dec(col(x1Col)); val x2 = dec(col(x2Col)); val y = dec(col(yCol))
    val m = df.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"),
      sum(x1).as("_s1_"), sum(x2).as("_s2_"), sum(y).as("_sy_"),
      sum(x1 * x1).as("_s11_"), sum(x2 * x2).as("_s22_"),
      sum(x1 * x2).as("_s12_"),
      sum(x1 * y).as("_s1y_"), sum(x2 * y).as("_s2y_"),
      sum(y * y).as("_syy_"))
    m.select(col(keyCol), col("n"),
        expr("cast(n as double)").as("_dn_"),
        expr("cast(_s1_ as double)").as("_d1_"),
        expr("cast(_s2_ as double)").as("_d2_"),
        expr("cast(_sy_ as double)").as("_dy_"),
        expr("cast(_s11_ as double)").as("_d11_"),
        expr("cast(_s22_ as double)").as("_d22_"),
        expr("cast(_s12_ as double)").as("_d12_"),
        expr("cast(_s1y_ as double)").as("_d1y_"),
        expr("cast(_s2y_ as double)").as("_d2y_"),
        expr("cast(_syy_ as double)").as("_dyy_"))
      .select(col(keyCol), col("n"),
        col("_dn_"), col("_d1_"), col("_d2_"), col("_dy_"),
        expr("_dn_ * _d11_ - _d1_ * _d1_").as("_a11_"),
        expr("_dn_ * _d22_ - _d2_ * _d2_").as("_a22_"),
        expr("_dn_ * _d12_ - _d1_ * _d2_").as("_a12_"),
        expr("_dn_ * _d1y_ - _d1_ * _dy_").as("_b1_"),
        expr("_dn_ * _d2y_ - _d2_ * _dy_").as("_b2_"),
        expr("_dn_ * _dyy_ - _dy_ * _dy_").as("_sst_"))
      .select(col(keyCol), col("n"),
        col("_dn_"), col("_d1_"), col("_d2_"), col("_dy_"),
        col("_b1_"), col("_b2_"), col("_sst_"),
        expr("_a11_ * _a22_ - _a12_ * _a12_").as("_det_"),
        col("_a11_"), col("_a22_"), col("_a12_"))
      .select(col(keyCol), col("n"),
        col("_dn_"), col("_d1_"), col("_d2_"), col("_dy_"),
        col("_b1_"), col("_b2_"), col("_sst_"),
        expr("""case when _det_ <> 0.0
                then (_b1_ * _a22_ - _b2_ * _a12_) / _det_ end""").as("beta1"),
        expr("""case when _det_ <> 0.0
                then (_b2_ * _a11_ - _b1_ * _a12_) / _det_ end""").as("beta2"))
      .select(col(keyCol), col("n"), col("beta1"), col("beta2"),
        expr("(_dy_ - beta1 * _d1_ - beta2 * _d2_) / _dn_").as("beta0"),
        expr("""case when _sst_ <> 0.0
                then (beta1 * _b1_ + beta2 * _b2_) / _sst_ end""").as("r2"))
      .select(col(keyCol), col("n"), col("beta0"), col("beta1"),
        col("beta2"), col("r2"))
  }

  /** 2-D skyline (Pareto frontier), both dimensions MINIMIZED: keep every
    * row not dominated by another (q dominates p iff qx ≤ px ∧ qy ≤ py,
    * strict in at least one; duplicate frontier points all survive). The
    * textbook plan is the quadratic NOT EXISTS self-join — the oracle
    * replays exactly that — but 2-D skylines are a SORT, not a join:
    * within each x keep only the y-minima, then a row survives iff its y
    * is strictly below the running y-minimum of all smaller x. One
    * per-x aggregate + one ordered window over the DISTINCT x set (tiny
    * after the first step) + one join back: at 100 TB that is a key
    * shuffle and a range-partitioned sort versus a self-join that
    * explodes on Σ per-cell². The prefix-min over the distinct-x table is
    * [[Packing.runningMinSharded]] — x can be near-unique (prices), so
    * even the distinct-x set must not funnel into a global ordered
    * window. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val perX = df.groupBy(col(xCol)).agg(min(col(yCol)).as("_ymin_"))
    val frontier = Packing
      .runningMinSharded(perX, xCol, "_ymin_", "_prev_")
      .where(col("_prev_").isNull || col("_ymin_") < col("_prev_"))
      .select(col(xCol), col("_ymin_"))
    df.join(frontier.withColumnRenamed("_ymin_", yCol),
        Seq(xCol, yCol), "left_semi")
      .select(df.columns.map(col): _*) // semi-join hoists keys; restore order
  }

  /** EXACT frequency heavy hitters at bounded shuffle cost — every key
    * whose count is at least `ceil(N · num / den)` of the N input rows,
    * with its exact count. The answer equals the naive
    * `GROUP BY key HAVING count(*) >= t`, but the naive plan shuffles the
    * FULL distinct-key set — at web scale (URLs, n-grams, user agents)
    * that distinct set is nearly the data size, and the shuffle is the
    * job. This is the classic two-pass scheme instead:
    *
    *  1. one `mapPartitions` pass runs a Misra–Gries summary with
    *     k = ceil(den/num) counters per partition. MG's guarantee: any
    *     key with partition frequency > n_p/(k+1) survives the partition's
    *     summary, and by averaging any key with GLOBAL frequency
    *     ≥ N·num/den > N/(k+1) must clear that bar somewhere — so the
    *     union of per-partition survivors is a SUPERSET of the true heavy
    *     hitters. Each partition emits one row: (row count, ≤k candidate
    *     keys). Nothing driver-side; decrement-all is amortized O(1)/row.
    *  2. an exact recount of candidates only: broadcast the candidate set
    *     (≤ k·P keys, independent of distinct-key cardinality), hash-join
    *     it into the scan as a semi-filter, and `groupBy` just the
    *     surviving rows — map-side partial aggregation means at most
    *     k·P (key, partial-count) rows ever shuffle.
    *
    * The threshold is the RATIONAL fraction num/den evaluated in integer
    * arithmetic (`(N·num + den − 1) div den`), so the cut replays exactly
    * in any engine — no float threshold to straddle. Keys are compared by
    * their string form (the summary's map key); the output keeps the
    * original column. Output: (`keyCol`, cnt) for keys with
    * cnt ≥ ceil(N·num/den). */
  def heavyHitters(df: DataFrame, keyCol: String, num: Long,
                   den: Long): DataFrame = {
    require(num > 0 && den >= num, "fraction num/den must be in (0, 1]")
    // overflow-safe ceil (den + num - 1 wraps for den near Long.Max) and
    // a sanity bound: k Misra-Gries counters live in per-task memory
    val k0 = den / num + (if (den % num == 0) 0L else 1L)
    require(k0 <= 10000000L,
      s"heavyHitters: ceil(den/num) = $k0 counters exceed the per-task " +
        "memory bound (10M) — use a coarser threshold fraction")
    val k = k0.toInt // ceil(den/num) >= 1/phi
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(col(keyCol).cast("string").as("k")).as[String]
    // pass 1: per-partition Misra–Gries; one (n_p, survivors) row each
    val summaries = keyed.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { x =>
        n += 1
        counters.get(x) match {
          case Some(c) => counters.update(x, c + 1)
          case None if counters.size < k => counters.update(x, 1L)
          case None => // decrement-all; drop zeroed counters
            val dead = List.newBuilder[String]
            counters.foreach { case (key, c) =>
              if (c == 1L) dead += key else counters.update(key, c - 1)
            }
            dead.result().foreach(counters.remove)
        }
      }
      Iterator.single((n, counters.keys.toSeq))
    }.toDF("np", "cands").transform(Materialize.round) // one MG pass feeds N + cands
    val n = summaries.agg(sum(col("np"))).as[Option[Long]].head.getOrElse(0L)
    // BigInt: n·num wraps a LONG for corpus-scale n with a fine fraction
    val threshold = ((BigInt(n) * num + den - 1) / den).toLong
    val cands = summaries.select(explode(col("cands")).as("k")).distinct()
    df.join(broadcast(cands), df(keyCol).cast("string") === cands("k"),
        "left_semi")
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
  }

  /** Exponentially-weighted moving average with α = 1/2 over the last
    * `horizon` observations: ewma_n = Σ_{j=0..h-1} x_{n−j} · 2^−(j+1)
    * (the truncated, non-renormalized EWM — pandas `ewm(adjust=False)`
    * style but with a finite tail, which is what makes it windowable).
    *
    * Engine-portable floats BY CONSTRUCTION, not by luck: `valCol` must
    * be integer (pre-quantized); every term is an exact long divided by a
    * power of two (exact in binary floating point), and with values
    * < 2^(53−horizon) the running sum never rounds — so ANY summation
    * order gives the identical double, and a SQL replay hash-matches.
    * That envelope (e.g. 2^37 at horizon 16) is `require`d away from
    * misuse at the caller's quantization scale.
    *
    * Plan: one window sort per series key; the frame materializes at most
    * `horizon` values per row (collect_list over a bounded frame), then a
    * codegen'd higher-order fold — no self-join, no driver state. Output:
    * input keys + `ewma_milli`-style smoothed double named `ewmaCol`. */
  def ewmaSmooth(df: DataFrame, keyCol: String, orderCols: Seq[String],
                 valCol: String, ewmaCol: String,
                 horizon: Int = 16): DataFrame = {
    require(horizon >= 1 && horizon <= 32, s"horizon in [1,32], got $horizon")
    val w = Window.partitionBy(keyCol)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(horizon - 1), Window.currentRow)
    // NULL values raise by name (round-16): collect_list SKIPS nulls, so
    // a NULL reading silently COMPACTED the window list and reassigned
    // every exponent weight to the wrong observation — and the old
    // magnitude guard null-propagated straight past it
    val guarded = when(col(valCol).isNull,
      raise_error(lit("ewmaSmooth: NULL value — the window list would " +
        "silently drop it and shift every exponent weight; fill or " +
        "filter the series upstream")))
      .when(
        abs(col(valCol).cast("long")) >= lit(1L << (53 - horizon)),
        raise_error(lit(s"ewmaSmooth: |value| must be < 2^${53 - horizon} " +
          "for exact summation — quantize coarser or shrink the horizon")))
      .otherwise(col(valCol).cast("long"))
    df.withColumn("_ewv_", guarded)
      .withColumn("_lst_", collect_list(col("_ewv_")).over(w))
      .withColumn(ewmaCol, expr(
        """aggregate(
          |  zip_with(_lst_, sequence(1, size(_lst_)),
          |    (v, i) -> v / cast(shiftleft(1L, size(_lst_) - i + 1) as double)),
          |  cast(0 as double), (a, x) -> a + x)""".stripMargin))
      .drop("_ewv_", "_lst_")
  }

  /** Per-group robust outliers by Median Absolute Deviation: rows whose
    * integer value deviates from the group's (lower) median by more than
    * `mult`× the (lower) median of absolute deviations. The z-score
    * variant ([[zscoreOutliers]]) is itself skewed by the outliers it
    * hunts; MAD's 50% breakdown point is the robust form.
    *
    * `valCol` must be integer-typed (pre-quantize floats upstream, e.g.
    * price → milli-units): with integer values both medians are integers
    * by rank selection (`1 + (50·(n−1)) div 100`, the [[groupQuantiles]]
    * convention), the deviation is an integer, and the cut
    * `dev > mult·mad` is a pure integer comparison — the whole operator
    * is float-free and replays bit-identically on any engine.
    *
    * Plan: two windows over the SAME partition key — one exchange, two
    * sorts (value order, then deviation order) — then a row filter. No
    * broadcast, no driver state; group cardinality bounds the sort, not
    * the outlier count. Output: outlier rows as (`keyCol`, `idCol`,
    * `valCol`, med, mad, dev). */
  def madOutliers(df: DataFrame, keyCol: String, idCol: String,
                  valCol: String, mult: Long): DataFrame = {
    require(mult >= 1, s"mult must be >= 1, got $mult")
    val byKey = Window.partitionBy(keyCol)
    val wVal = byKey.orderBy(col(valCol), col(idCol))
    val medRank = lit(1) + expr("(50 * (_n_ - 1)) div 100")
    // NULL values excluded (they ranked FIRST and shifted both medians);
    // non-integral values raise instead of silently flooring (the
    // documented integer contract, now enforced)
    val withMed = df.select(col(keyCol), col(idCol),
        Guards.integralLongCol(df, valCol, "madOutliers").as(valCol))
      .where(col(valCol).isNotNull)
      .withColumn("_n_", count(lit(1)).over(byKey))
      .withColumn("_rnv_", row_number().over(wVal))
      .withColumn("med",
        max(when(col("_rnv_") === medRank, col(valCol))).over(byKey))
      .withColumn("dev", abs(col(valCol) - col("med")))
    val wDev = byKey.orderBy(col("dev"), col(idCol))
    withMed
      .withColumn("_rnd_", row_number().over(wDev))
      .withColumn("mad",
        max(when(col("_rnd_") === medRank, col("dev"))).over(byKey))
      .where(col("dev") > lit(mult) * col("mad"))
      .select(col(keyCol), col(idCol), col(valCol), col("med"), col("mad"),
        col("dev"))
  }

  /** Per-group winsorization: clip an integer value column to the
    * group's [loPct, hiPct] percentile bounds (the robust outlier
    * TREATMENT, where [[madOutliers]] is the detector). Bounds use the
    * same integer rank selection as [[groupQuantiles]]
    * (`1 + (p·(n−1)) div 100`, lower interpolation), so bounds, clip,
    * and flags are all pure integer arithmetic — engine-portable with no
    * float anywhere. One window sort per group (both bounds read off the
    * same value ordering). Output: every input row as (`keyCol`,
    * `idCol`, `valCol`, lo, hi, clipped, was_clipped). */
  def winsorize(df: DataFrame, keyCol: String, idCol: String,
                valCol: String, loPct: Int, hiPct: Int): DataFrame = {
    require(loPct >= 0 && hiPct <= 100 && loPct <= hiPct,
      s"need 0 <= loPct <= hiPct <= 100, got [$loPct, $hiPct]")
    val byKey = Window.partitionBy(keyCol)
    val wVal = byKey.orderBy(col(valCol), col(idCol))
    def rankOf(p: Int) = lit(1) + expr(s"($p * (_n_ - 1)) div 100")
    // same dirty-data contract as [[madOutliers]]: NULL values excluded
    // from ranks AND output, non-integral values raise by name
    df.select(col(keyCol), col(idCol),
        Guards.integralLongCol(df, valCol, "winsorize").as(valCol))
      .where(col(valCol).isNotNull)
      .withColumn("_n_", count(lit(1)).over(byKey))
      .withColumn("_rnv_", row_number().over(wVal))
      .withColumn("lo",
        max(when(col("_rnv_") === rankOf(loPct), col(valCol))).over(byKey))
      .withColumn("hi",
        max(when(col("_rnv_") === rankOf(hiPct), col(valCol))).over(byKey))
      .withColumn("clipped", greatest(col("lo"), least(col("hi"), col(valCol))))
      .withColumn("was_clipped", col("clipped") =!= col(valCol))
      .select(keyCol, idCol, valCol, "lo", "hi", "clipped", "was_clipped")
  }

  /** Weekday seasonal profile + residual over a daily series: each day's
    * value vs the mean of its day-of-week across the whole series — the
    * one-knob seasonal decomposition that answers "is this dip a real
    * anomaly or just a weekend". Day-of-week is the ENGINE-NEUTRAL
    * `(days_since_1970-01-01 + 4) mod 7` (0 = Sunday) — Spark's
    * `dayofweek` and DuckDB's differ in both origin and range, epoch-day
    * arithmetic agrees everywhere. The profile mean is one exact DECIMAL
    * sum per weekday through one correctly-rounded division; the
    * residual is one fixed subtraction. Output: (dayCol, dow, value
    * double, profile, residual). */
  def weekdayProfile(df: DataFrame, dayCol: String,
                     valCol: String): DataFrame = {
    val dow = pmod(datediff(col(dayCol), to_date(lit("1970-01-01"))) + 4, lit(7))
    val daily = df.select(col(dayCol), dow.as("dow"),
      col(valCol).cast("decimal(18,2)").as("_v_"))
    val profile = daily.groupBy("dow")
      .agg(expr("cast(sum(_v_) as double) / cast(count(1) as double)")
        .as("profile"))
    daily.join(profile, "dow")
      .select(col(dayCol), col("dow"),
        col("_v_").cast("double").as(valCol),
        col("profile"),
        (col("_v_").cast("double") - col("profile")).as("residual"))
  }

  /** Quantile normalization across groups: each row's value maps to the
    * GLOBAL value at its within-group relative rank — the batch-effect
    * correction that puts per-source score distributions on one scale
    * before cross-source thresholds (quality cuts, mixing quotas) are
    * applied. Pure integer rank arithmetic: within-group rank r of n_g
    * maps to global rank `1 + ((r−1)·(N−1)) div (n_g−1)` (endpoints map
    * to endpoints; singleton groups map to the global median rank
    * `1 + (N−1) div 2`), and the normalized value is read off the global
    * value order by that rank — no float anywhere, so the mapping
    * replays exactly.
    *
    * Plan: one group-keyed window (rank within group), the total count
    * as a broadcast 1-row cross join (NOT a partition-less window — that
    * plan funnels every row through one task), and the global sorted
    * index built by [[Packing.runningTotalSharded]]'s two-phase prefix
    * sum (shards on the value domain, `idCol` tie-break) — no
    * unpartitioned window anywhere in the plan. One equi-join on the
    * computed global rank stitches the mapping.
    * Output: input keys + `normalized`. */
  def quantileNormalize(df: DataFrame, groupCol: String, idCol: String,
                        valCol: String): DataFrame = {
    val wg = Window.partitionBy(groupCol).orderBy(col(valCol), col(idCol))
    // NULL values excluded on BOTH sides (they ranked first in the group
    // window but nulled the sharded global index's bounds — the two rank
    // spaces silently misaligned); non-integral raises by name
    val clean = df.select(col(groupCol), col(idCol),
        Guards.integralLongCol(df, valCol, "quantileNormalize").as(valCol))
      .where(col(valCol).isNotNull)
    val total = clean.agg(count(lit(1)).as("_N_"))
    val ranked = clean
      .withColumn("_r_", row_number().over(wg))
      .withColumn("_ng_", count(lit(1)).over(Window.partitionBy(groupCol)))
      .crossJoin(broadcast(total))
      .withColumn("_gr_",
        when(col("_ng_") > 1,
          lit(1) + expr("((_r_ - 1) * (_N_ - 1)) div (_ng_ - 1)"))
          .otherwise(lit(1) + expr("(_N_ - 1) div 2")))
    val globalIdx = Packing.runningTotalSharded(
        clean.select(col(valCol).as("_gv_"), col(idCol).as("_gid_"))
          .withColumn("_one_", lit(1L)),
        "_gv_", "_one_", "_gr_", tieCols = Seq("_gid_"))
      .select("_gr_", "_gv_")
    ranked.join(globalIdx, "_gr_")
      .select(col(groupCol), col(idCol), col(valCol),
        col("_gv_").as("normalized"))
  }

  /** Cohen's kappa inter-annotator agreement per group: how far the two
    * label columns' agreement exceeds chance, the standard QA gate before
    * trusting human (or heuristic) labels for training data.
    *
    * Everything up to the last step is integral: n, the agreement count,
    * and the chance term Σ_c na_c·nb_c are exact longs, and kappa is the
    * single correctly-rounded division
    * `(n·agree − Σ na·nb) / (n² − Σ na·nb)` — engine-portable by
    * construction. Groups where chance agreement is already perfect
    * (n² = Σ na·nb, e.g. both raters constant) emit kappa = NULL rather
    * than 0/0.
    *
    * Plan: one aggregate for (n, agree), one per-(group, label) aggregate
    * per rater joined on (group, label) for the chance term — all
    * key-partitioned shuffles on the group key, no driver state. Output:
    * (`keyCol`, n, n_agree, kappa). */
  def cohensKappa(df: DataFrame, keyCol: String, raterACol: String,
                  raterBCol: String): DataFrame = {
    // only CO-RATED items count (the standard kappa convention, now
    // enforced): pre-fix a NULL label was counted in n but dropped from
    // the chance join (NULL keys never match), silently inflating kappa
    val rated = df.where(col(raterACol).isNotNull && col(raterBCol).isNotNull)
    val base = rated.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"),
      sum(when(col(raterACol) === col(raterBCol), 1L).otherwise(0L))
        .as("n_agree"))
    val ma = rated.groupBy(col(keyCol), col(raterACol).as("_lbl_"))
      .agg(count(lit(1)).as("_na_"))
    val mb = rated.groupBy(col(keyCol), col(raterBCol).as("_lbl_"))
      .agg(count(lit(1)).as("_nb_"))
    // chance term and n² in DECIMAL(38,0): n·n and Σ na·nb wrap a LONG
    // silently past n ≈ 3e9 rows per group (ANSI off), flipping kappa's
    // sign with no error anywhere
    val chance = ma.join(mb, Seq(keyCol.toString, "_lbl_"))
      .groupBy(col(keyCol))
      .agg(sum(col("_na_").cast("decimal(38,0)") * col("_nb_")).as("_sab_"))
    val n2 = col("n").cast("decimal(38,0)") * col("n")
    base.join(chance, keyCol)
      .select(col(keyCol), col("n"), col("n_agree"),
        when(n2 =!= col("_sab_"),
          (col("n").cast("decimal(38,0)") * col("n_agree") - col("_sab_"))
            .cast("double") / (n2 - col("_sab_")).cast("double"))
          .as("kappa"))
  }

  /** Metric contribution analysis — the "what drove the change" BI
    * decomposition: a metric moved between two periods; attribute the
    * total delta to segments and rank them by contribution. Additive
    * metrics decompose exactly (Σ segment deltas = total delta), so the
    * report is pure integer sums plus one correctly-rounded double
    * division per segment for the share (a `div` share would need
    * floor-vs-truncate care on NEGATIVE deltas — engines disagree — so
    * the share is the one deliberate double here). Segments missing
    * from a period contribute their full appearance/disappearance.
    *
    * Plan: one filtered aggregate per period on the segment key,
    * full-outer-merged — two scans, no window. Output per segment:
    * (segment, before, after, delta, share_of_delta DOUBLE, rank by
    * |delta| desc). */
  def contributionAnalysis(df: DataFrame, segCol: String, valCol: String,
                           inBefore: Column, inAfter: Column): DataFrame = {
    val b = df.where(inBefore).groupBy(col(segCol))
      .agg(sum(col(valCol).cast("long")).as("before"))
    val a = df.where(inAfter).groupBy(col(segCol))
      .agg(sum(col(valCol).cast("long")).as("after"))
    val merged = b.join(a, Seq(segCol), "full_outer")
      .select(col(segCol), coalesce(col("before"), lit(0L)).as("before"),
        coalesce(col("after"), lit(0L)).as("after"))
      .withColumn("delta", col("after") - col("before"))
    val w = Window.partitionBy()
    merged
      .withColumn("_tot_", sum("delta").over(w))
      .withColumn("share_of_delta",
        when(col("_tot_") =!= 0,
          col("delta").cast("double") / col("_tot_").cast("double")))
      .withColumn("rank", row_number().over(
        Window.orderBy(abs(col("delta")).desc, col(segCol))))
      .drop("_tot_")
  }

  /** Exact sliding-window distinct count — the "7-day active users"
    * metric computed the scalable way. The naive plan self-joins each
    * anchor day against a week of raw events; this one dedupes to
    * (key, day) FIRST (the only cardinality that matters), explodes
    * each pair to the `windowDays` anchor days it can serve
    * (linear ×w in the deduped pairs, not in raw events), keeps anchors
    * that actually occur in the data, and takes one distinct-count per
    * anchor. Every step is an equi-join/aggregate — no range join, no
    * per-day rescan; the ×w explosion is the exact, bounded price of
    * exactness (a KMV merge is the approximate alternative, see
    * [[graft.operators.Sketch]]). Output: (`dayCol`, n_distinct) for
    * every observed day, counting keys active in [day−w+1, day]. */
  def slidingDistinct(df: DataFrame, dayCol: String, keyCol: String,
                      windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val kd = df.select(col(keyCol).as("_k_"),
      col(dayCol).cast("date").as("_d_")).distinct()
    val anchors = kd.select(col("_d_").as(dayCol)).distinct()
    kd.select(col("_k_"),
        explode(expr(s"sequence(_d_, date_add(_d_, ${windowDays - 1}))"))
          .as(dayCol))
      .join(anchors, dayCol)
      .groupBy(dayCol)
      .agg(countDistinct(col("_k_")).as("n_distinct"))
  }

  /** Randomization (permutation-style) test for a difference in means —
    * the assumption-free companion to [[welchTTest]]: instead of a
    * t-distribution, the null is simulated by re-assigning every row to
    * a pseudo-random arm `nPerms` times and asking how often the
    * re-assigned |mean difference| reaches the observed one. The p-value
    * is (1 + n_extreme) / (1 + nPerms) (the add-one form that never
    * returns 0).
    *
    * Determinism is the whole design: "random" re-assignment is the
    * sign bit of mix64(id + i·φ) (splitmix64 golden gamma, the gs01
    * stream convention), so every permutation replays bit-identically
    * in SQL. The extremeness comparison never divides: |s_A/n_A −
    * s_B/n_B| ≥ |obs| is cross-multiplied into DECIMAL(38) integer
    * products (≈10²⁵ at this scale — far inside both engines' 128-bit
    * decimals), so no float ever decides a count. A degenerate
    * permutation (an empty arm) counts as extreme — conservative, and
    * vanishingly rare beyond toy sizes.
    *
    * Plan: one aggregate for the observed moments, one explode(nPerms)
    * + partial aggregate for the null distribution (map-side combine
    * keeps the shuffle at nPerms rows), one tiny count. Output: one row
    * (n_a, mean_a, n_b, mean_b, n_perms, n_extreme, p_value). */
  def randomizationTest(df: DataFrame, idCol: String, armCol: String,
                        valCol: String, armA: String, armB: String,
                        nPerms: Int = 64): DataFrame = {
    require(nPerms >= 1, s"nPerms must be >= 1, got $nPerms")
    val spark = df.sparkSession
    import spark.implicits._
    // seed arithmetic lives INSIDE the udf: i·φ wraps past Long.Max by
    // design, which Column arithmetic under ANSI mode would refuse
    val permBitUdf = udf((id: Long, i: Int) =>
      graft.functions.TextKernels.mix64(
        id + i.toLong * 0x9e3779b97f4a7c15L) < 0)
    // rows whose id fails the long cast are excluded up front: a NULL id
    // would count in the observed moments yet drop out of every
    // permutation arm (the udf's null propagation), biasing n_extreme —
    // the observed and permuted populations must be identical
    val base = df.where(col(armCol).isin(armA, armB))
      .select(col(idCol).cast("long").as("_id_"),
        (col(armCol) === armA).as("_isA_"),
        col(valCol).cast("long").as("_v_"))
      .where(col("_id_").isNotNull)
    val o = base.agg(
      sum(when(col("_isA_"), col("_v_"))).as("sa"),
      count(when(col("_isA_"), 1)).as("na"),
      sum(when(!col("_isA_"), col("_v_"))).as("sb"),
      count(when(!col("_isA_"), 1)).as("nb")).head()
    val (sa, na, sb, nb) = (o.getLong(0), o.getLong(1), o.getLong(2), o.getLong(3))
    require(na > 0 && nb > 0, "both arms need rows")
    val dObs = (BigInt(sa) * nb - BigInt(sb) * na).abs
    val bObs = BigInt(na) * nb
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val perms = base
      .select(col("_id_"), col("_v_"),
        explode(expr(s"sequence(1, $nPerms)")).as("_i_"))
      .withColumn("_pa_", permBitUdf(col("_id_"), col("_i_")))
      .groupBy("_i_")
      .agg(coalesce(sum(when(col("_pa_"), col("_v_"))), lit(0L)).as("psa"),
        count(when(col("_pa_"), 1)).as("pna"),
        coalesce(sum(when(!col("_pa_"), col("_v_"))), lit(0L)).as("psb"),
        count(when(!col("_pa_"), 1)).as("pnb"))
      .withColumn("_extreme_",
        col("pna") === 0 || col("pnb") === 0 ||
          abs(dec(col("psa")) * dec(col("pnb")) -
            dec(col("psb")) * dec(col("pna"))) *
            lit(new java.math.BigDecimal(bObs.bigInteger)) >=
            lit(new java.math.BigDecimal(dObs.bigInteger)) *
              (dec(col("pna")) * dec(col("pnb"))))
    val nExtreme = perms.agg(
      sum(when(col("_extreme_"), 1L).otherwise(0L))).head().getLong(0)
    Seq((na, sa.toDouble / na.toDouble, nb, sb.toDouble / nb.toDouble,
      nPerms, nExtreme, (1.0 + nExtreme) / (1.0 + nPerms)))
      .toDF("n_a", "mean_a", "n_b", "mean_b", "n_perms", "n_extreme",
        "p_value")
  }

  /** Seasonal-naive forecast backtest with MASE (Hyndman & Koehler 2006,
    * public) over a daily integer series: train days (< `cutoff`) build a
    * per-weekday integer-mean profile, test days are forecast by their
    * weekday's profile value, and the error is scored against the
    * seasonal-naive baseline (the same day last week) — MASE < 1 means
    * the profile beats "just repeat last week". The backtest every
    * forecasting pipeline runs before trusting a model, expressed so it
    * replays exactly: day-of-week is the engine-neutral epoch-day
    * arithmetic of [[weekdayProfile]], the profile is an integer
    * division, all error sums are exact int64, and MASE is the single
    * final division. Two exclusions apply, both by construction: test
    * days whose lag-7 day is absent from the series are excluded from
    * BOTH error sums (no forecast can be scored against a baseline that
    * doesn't exist), and test days whose WEEKDAY never occurs before the
    * cutoff are excluded too (the profile inner join — there is no
    * trained forecast for that weekday, so nothing to score). Input may
    * carry multiple rows per day: the operator pre-aggregates to one
    * daily total before anything else, so the lag-7 self-join can never
    * fan out.
    *
    * Plan: one per-day pre-aggregate, one aggregate for the profile
    * (broadcast-sized: 7 rows), one self-join on the lag-7 day key, one
    * final 7-row aggregate. Output per weekday: (dow, n_test,
    * sum_abs_err, sum_abs_naive_err, mase NULL when the naive error is
    * zero). */
  def seasonalNaiveBacktest(df: DataFrame, dayCol: String, valCol: String,
                            cutoff: String): DataFrame = {
    val dow = pmod(datediff(col(dayCol), to_date(lit("1970-01-01"))) + 4,
      lit(7))
    val daily = df.select(col(dayCol).cast("date").as("_day_"),
        dow.as("dow"), col(valCol).cast("long").as("_v_"))
      .groupBy("_day_", "dow").agg(sum(col("_v_")).as("_v_"))
    val profile = daily.where(col("_day_") < lit(cutoff))
      .groupBy("dow").agg(expr("sum(_v_) div count(1)").as("_fc_"))
    val lag = daily.select(col("_day_").as("_lagday_"), col("_v_").as("_nv_"))
    daily.where(col("_day_") >= lit(cutoff))
      .join(lag, col("_lagday_") === date_sub(col("_day_"), 7))
      .join(broadcast(profile), "dow")
      .groupBy("dow")
      .agg(count(lit(1)).as("n_test"),
        sum(abs(col("_v_") - col("_fc_"))).as("sum_abs_err"),
        sum(abs(col("_v_") - col("_nv_"))).as("sum_abs_naive_err"))
      .withColumn("mase",
        when(col("sum_abs_naive_err") > 0,
          col("sum_abs_err").cast("double") /
            col("sum_abs_naive_err").cast("double")))
  }

  /** Kaplan–Meier survival curve (Kaplan & Meier 1958, public) over
    * right-censored integer durations — for a training-data platform the
    * canonical use is time-to-convert / time-to-label funnels where
    * subjects still waiting must not be counted as failures. For each
    * distinct EVENT time t: n_risk = subjects with duration ≥ t, n_events
    * = events at exactly t, and the survival estimate
    * Ŝ(t) = Π_{t_j ≤ t} (1 − d_j/n_j), carried as LOG-survival in
    * 1e-6 fixed point: each factor's ln((n−d)/n) is rounded to micro
    * units BEFORE the cumulative sum, so the running total is an
    * order-free integer sum (the bm01 discipline — a raw double product
    * would be partitioning-dependent). Once the risk set is extinguished
    * by an event time (d = n, Ŝ hits exact zero), that time and all
    * later ones carry NULL log-survival rather than −∞.
    *
    * Plan: one per-time aggregate, then the THREE prefix programs
    * (reverse-cumulative risk set, forward log sum, extinction poisoning)
    * all via [[Packing.runningTotalsSharded]] — durations in epoch
    * seconds/millis make the distinct-time table ≈ row cardinality at
    * scale, too large for one task's ordered window. Output: (t, n_risk,
    * n_events, log_surv_micro BIGINT). */
  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    // pinned: without the two pins km01 read 0.71 -> 1.35 s (sf0.1, local[4])
    val perTime = Materialize.lazyRound(df
      .select(col(durationCol).cast("long").as("t"),
        when(col(eventCol).cast("boolean"), 1L).otherwise(0L).as("_e_"))
      .groupBy("t")
      .agg(count(lit(1)).as("_n_"), sum(col("_e_")).as("n_events")))
    val total = perTime.agg(sum(col("_n_")).as("_tot_"))
    // n_risk = subjects with duration >= t = total - (inclusive prefix
    // count of earlier times) + own count
    val events = Materialize.lazyRound(
      Packing.runningTotalSharded(perTime, "t", "_n_", "_cumn_")
        .crossJoin(broadcast(total))
        .withColumn("n_risk", col("_tot_") - col("_cumn_") + col("_n_"))
        .where(col("n_events") > 0)
        .withColumn("_term_",
          when(col("n_events") < col("n_risk"),
            expr("cast(round(ln(cast(n_risk - n_events as double)" +
              " / cast(n_risk as double)) * 1000000) as bigint)")))
        .withColumn("_t0_", coalesce(col("_term_"), lit(0L)))
        .withColumn("_bad_", when(col("_term_").isNull, 1L).otherwise(0L)))
    // forward log sum + extinction flag: once a NULL term appears (risk
    // set extinguished, S hits exact zero) that time and all later ones
    // carry NULL log-survival rather than -Inf — same semantics as the
    // old min-over-prefix window; one scan for both cumulative columns
    Packing.runningTotalsSharded(events, "t",
        Seq("_t0_" -> "_cumterm_", "_bad_" -> "_cumbad_"))
      .withColumn("log_surv_micro",
        when(col("_cumbad_") === 0L, col("_cumterm_")))
      .select(col("t"), col("n_risk"), col("n_events"), col("log_surv_micro"))
  }

  /** Two-sided CUSUM change-point detection (Page 1954, public) over an
    * integer-valued ordered series — the sequential drift detector that
    * fires on a SUSTAINED shift long before any single point is an
    * outlier (the gap [[madOutliers]]/[[zscoreOutliers]] leave open).
    *
    * The textbook recurrence S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − target)) looks
    * inherently sequential, but it has an exact closed form: with
    * Pᵢ = Σ_{j≤i}(xⱼ − target),  S⁺ᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ), and
    * symmetrically S⁻ᵢ = max(0, max_{j≤i} Pⱼ) − Pᵢ — so BOTH sides fall
    * out of ONE ordered window (prefix sum + prefix min + prefix max over
    * the same frame, one sort per key). Everything is int64 arithmetic on
    * an integer `valCol` (quantize money upstream): bit-portable, no
    * recursion, no driver state, and at 100 TB one shuffle on the series
    * key. `target`/`threshold` are Column expressions so callers can
    * derive them per key (e.g. the integer mean) — they must be
    * engine-portable integers themselves to keep the oracle exact.
    *
    * Output: input columns + cusum_hi, cusum_lo, alarm_hi, alarm_lo. */
  def cusumAlarms(df: DataFrame, keyCol: String, orderCols: Seq[String],
                  valCol: String, target: Column,
                  threshold: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_d_", col(valCol).cast("long") - target)
      .withColumn("_p_", sum(col("_d_")).over(w))
      .withColumn("cusum_hi", col("_p_") - least(lit(0L), min(col("_p_")).over(w)))
      .withColumn("cusum_lo", greatest(lit(0L), max(col("_p_")).over(w)) - col("_p_"))
      .withColumn("alarm_hi", col("cusum_hi") >= threshold)
      .withColumn("alarm_lo", col("cusum_lo") >= threshold)
      .drop("_d_", "_p_")
  }

  /** EXACT global multi-quantile without a sort: the p-th value is the r-th
    * smallest with r = 1 + (p·(n−1)) div 100 ([[groupQuantiles]]' lower
    * selection). A global sort (or a global `row_number` window) funnels
    * the whole column through a range-partitioned sort, the most expensive
    * primitive at cluster scale; [[refineQuantiles]] finds the same values
    * from counts alone. `valCol` must be integer-typed (quantize money
    * upstream); NULLs are excluded. Output: one row per requested
    * percentile, (pct INT, value BIGINT). */
  def exactQuantilesBisect(df: DataFrame, valCol: String, pcts: Seq[Int],
                           nBins: Int = 16384): DataFrame =
    refineQuantiles("exactQuantilesBisect", df.select(lit(0).as("_g_"),
        col(valCol).cast("long").as("_v_"), lit(1L).as("_w_")), pcts, nBins)
      .select("pct", "value")

  /** WEIGHTED exact quantiles by [[refineQuantiles]]: the p-th weighted
    * percentile is the smallest value whose cumulative weight reaches
    * rank 1 + (p·(W−1)) div 100 of the total weight W. The curation use is
    * token-weighted document statistics ("at what document length does
    * half the TOKEN MASS live?"). Values and weights are integers; a
    * negative weight raises in-plan, zero-weight rows never host a rank and
    * are dropped. Output: (pct INT, value BIGINT). */
  def weightedQuantilesBisect(df: DataFrame, valCol: String,
                              weightCol: String, pcts: Seq[Int],
                              nBins: Int = 16384): DataFrame = {
    val w = col(weightCol).cast("long")
    refineQuantiles("weightedQuantilesBisect", df.select(lit(0).as("_g_"),
        col(valCol).cast("long").as("_v_"),
        when(w < 0, raise_error(lit("weightedQuantilesBisect: negative weight")))
          .otherwise(w).as("_w_")), pcts, nBins)
      .select("pct", "value")
  }

  /** Per-GROUP exact quantiles by [[refineQuantiles]]: the scale path for
    * [[groupQuantiles]] when single groups outgrow a window sort. All
    * (group, pct) targets share each pass, and nothing is sorted. The rank
    * convention and NULL policy are [[groupQuantiles]]', and the group key
    * keeps its own type and equality (0.0 and −0.0 are one group), so the
    * results are interchangeable. At most 2^20 groups; beyond that it
    * raises, and the window form (state in the shuffle) is the remedy.
    * Output: (`groupCol`, pct INT, value BIGINT). */
  def groupQuantilesBisect(df: DataFrame, groupCol: String, valCol: String,
                           pcts: Seq[Int], nBins: Int = 16384): DataFrame =
    refineQuantiles("groupQuantilesBisect", df.select(col(groupCol).as("_g_"),
        col(valCol).cast("long").as("_v_"), lit(1L).as("_w_")), pcts, nBins)
      .select(col("_g_").as(groupCol), col("pct"), col("value"))

  /** Groups [[refineQuantiles]] holds on the driver: one (lo, hi, rank)
    * triple per (group, pct) target. */
  private val maxQuantileGroups = 1 << 20

  /** Exact (group, pct) quantiles by histogram-refinement selection over a
    * `(_g_, _v_, _w_)` frame of group, integer value and integer weight.
    *
    * - Rank: in a group of total weight W, percentile p is the smallest
    *   value whose cumulative weight reaches r = 1 + (p·(W−1)) div 100.
    *   With unit weights that is the r-th smallest.
    * - Discovery: one aggregate gives each group's W, min and max; every
    *   (group, pct) target starts on [min, max].
    * - Pass: one aggregate histograms each open target's [lo, hi] into
    *   bins of width ceil((hi − lo + 1) / nBins), summing weights. The
    *   target table is broadcast-joined null-safely on the group key, so
    *   a row meets only its own group's ≤ |pcts| targets: a pass costs
    *   rows × |pcts| whatever the group count and collects ≤ targets ×
    *   nBins rows. The driver walks each cumulative histogram to the bin
    *   holding the rank and recurses into it.
    * - Bound: each pass shrinks an interval ≥ nBins×, so even the full
    *   64-bit range resolves in ceil(64 / log2 nBins) passes (≤ 5 at the
    *   default 16384 bins, 2 for a ~1e8-wide milli-money domain). `v − lo`
    *   goes through DECIMAL(20,0) while an interval is 2^63 or wider
    *   (the first pass at most), and is long arithmetic after.
    * - The pruned frame is persisted for the discovery and every pass
    *   (each would otherwise re-read the source) and released on every
    *   exit, a raise included.
    *
    * Rows with a NULL value or weight are excluded, as are zero-weight
    * rows; a NULL group is a group, as in [[groupQuantiles]]. Output,
    * built on the driver: (_g_ in the group's own type, pct INT, value
    * BIGINT). */
  private def refineQuantiles(op: String, frame: DataFrame, pcts: Seq[Int],
                              nBins: Int): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100),
      s"pcts must be in [0,100], got $pcts")
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val spark = frame.sparkSession
    val vals = frame.where(col("_v_").isNotNull && col("_w_").isNotNull &&
      col("_w_") > 0).persist()
    try {
      val groups = vals.groupBy("_g_").agg(sum("_w_"), min("_v_"), max("_v_"))
        .limit(maxQuantileGroups + 1).collect()
      require(groups.length <= maxQuantileGroups,
        s"$op: more than $maxQuantileGroups groups — use the window-sort " +
          "groupQuantiles instead")
      case class Target(g: Any, pct: Int, var lo: Long, var hi: Long,
                        var rank: Long)
      val ps = pcts.distinct.sorted
      val targets = for (r <- groups; p <- ps) yield
        Target(r.get(0), p, r.getLong(2), r.getLong(3),
          (1 + BigInt(p) * (r.getLong(1) - 1) / 100).toLong)
      val gField = vals.schema("_g_")
      val targetSchema = StructType(Seq(gField, StructField("_q_", IntegerType),
        StructField("_tlo_", LongType), StructField("_thi_", LongType),
        StructField("_step_", LongType)))
      while (targets.exists(t => t.lo < t.hi)) {
        // (target, bin width ceil((hi − lo + 1) / nBins)), the width capped
        // to a long: only nBins = 2 over the full range reaches the cap,
        // which costs one extra bin
        val active = targets.filter(t => t.lo < t.hi).zipWithIndex.map { case (t, i) =>
          (t, ((BigInt(t.hi) - t.lo + nBins) / nBins).min(Long.MaxValue).toLong, i)
        }
        val offset =
          if (active.forall { case (t, _, _) => BigInt(t.hi) - t.lo <= Long.MaxValue })
            "_v_ - _tlo_"
          else "cast(_v_ as decimal(20,0)) - _tlo_"
        val tdf = spark.createDataFrame(active.map { case (t, step, i) =>
          Row(t.g, i, t.lo, t.hi, step)
        }.toSeq.asJava, targetSchema)
        // `div`, not `/`: Column./ is double division
        val hist = vals.join(broadcast(tdf), vals("_g_") <=> tdf("_g_"))
          .where(col("_v_").between(col("_tlo_"), col("_thi_")))
          .groupBy(col("_q_"), expr(s"($offset) div _step_").as("bin"))
          .agg(sum("_w_"))
          .collect()
          .groupBy(_.getInt(0))
        active.foreach { case (t, step, i) =>
          val bins = hist(i).map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
          // cum(j): weight below bin j; bin j holds the rank when cum(j+1) reaches it
          val cum = bins.scanLeft(0L)(_ + _._2)
          val j = cum.indexWhere(_ >= t.rank) - 1
          val lo = BigInt(t.lo) + BigInt(bins(j)._1) * step
          t.rank -= cum(j)
          t.hi = (lo + step - 1).min(t.hi).toLong
          t.lo = lo.toLong
        }
      }
      spark.createDataFrame(targets.map(t => Row(t.g, t.pct, t.lo)).toSeq.asJava,
        StructType(Seq(gField, StructField("pct", IntegerType, nullable = false),
          StructField("value", LongType, nullable = false))))
    } finally vals.unpersist()
  }

  /** Per-group Gini coefficient — the inequality/concentration measure
    * ("do 1 % of customers carry 90 % of revenue"): with the group's
    * values sorted ascending x₁ ≤ … ≤ x_n,
    *   G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i).
    * Everything except the final division is exact DECIMAL integer
    * arithmetic (values enter as integer milli), and permuting TIED
    * values never changes Σ i·x_i — so the statistic is deterministic
    * without a tie-break column and replays bit-identically.
    *
    * Values must be non-negative (Gini is undefined below zero);
    * all-zero or singleton groups emit NULL.
    *
    * Plan: one group-partitioned ordered window for ranks, one grouped
    * aggregate — both keyed on the group, nothing global. Output:
    * (groupCol, n, total, gini). */
  def giniCoefficient(df: DataFrame, groupCol: String,
                      valCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col("_v_"))
    df.select(col(groupCol), col(valCol).cast("long").as("_v_"))
      .where(col("_v_").isNotNull)
      .withColumn("_i_", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("_v_")).as("total"),
        sum(col("_i_").cast("decimal(38,0)") * col("_v_")).as("_w_"),
        min(col("_v_")).as("_min_"))
      .select(col(groupCol), col("n"), col("total"),
        when(col("_min_") >= 0 && col("total") > 0 && col("n") > 1,
          (lit(2).cast("decimal(38,0)") * col("_w_") -
            (col("n") + 1).cast("decimal(38,0)") *
              col("total").cast("decimal(38,0)")).cast("double") /
            (col("n").cast("decimal(38,0)") *
              col("total").cast("decimal(38,0)")).cast("double"))
          .as("gini"))
  }

  /** Difference-in-differences — the pre/post × treat/control panel
    * estimator: effect = (T̄post − T̄pre) − (C̄post − C̄pre), the
    * parallel-trends answer to "did the launch move the metric beyond
    * what control drifted anyway". Cell sums are exact DECIMAL; each
    * mean is one correctly-rounded division and the effect is the fixed
    * subtraction chain — engine-portable (the welch/az01 convention).
    *
    * Plan: ONE partial+final aggregate over (treat, post) — four cells,
    * map-side combined, scan-bound at any scale. Output: one row
    * (n/mean per cell, did_effect); any empty cell yields NULL effect. */
  def diffInDiffs(df: DataFrame, treatCol: String, postCol: String,
                  valCol: String): DataFrame = {
    def cell(t: Boolean, p: Boolean, sfx: String) = Seq(
      sum(when(col(treatCol) === t && col(postCol) === p, 1L).otherwise(0L))
        .as(s"n_$sfx"),
      sum(when(col(treatCol) === t && col(postCol) === p,
        col(valCol).cast("decimal(18,2)"))).as(s"_s$sfx"))
    val aggs = cell(true, false, "t_pre") ++ cell(true, true, "t_post") ++
      cell(false, false, "c_pre") ++ cell(false, true, "c_post")
    def mean(sfx: String): Column =
      when(col(s"n_$sfx") > 0,
        col(s"_s$sfx").cast("double") / col(s"n_$sfx").cast("double"))
    df.agg(aggs.head, aggs.tail: _*)
      .select(
        col("n_t_pre"), mean("t_pre").as("mean_t_pre"),
        col("n_t_post"), mean("t_post").as("mean_t_post"),
        col("n_c_pre"), mean("c_pre").as("mean_c_pre"),
        col("n_c_post"), mean("c_post").as("mean_c_post"),
        ((mean("t_post") - mean("t_pre")) -
          (mean("c_post") - mean("c_pre"))).as("did_effect"))
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013) — the standard
    * A/B sensitivity booster: regress the experiment metric `y` on a
    * PRE-experiment covariate `x` (same unit, unaffected by treatment),
    * θ = cov(x,y)/var(x) pooled across arms, and report each arm's
    * adjusted mean  ȳ_adj = ȳ_arm − θ·(x̄_arm − x̄_all). Moments are
    * exact DECIMAL sums; θ is the single division of the exact integer
    * forms n·Σxy − Σx·Σy over n·Σx² − (Σx)², and every adjustment is a
    * fixed double program — bit-portable.
    *
    * Plan: one grouped aggregate per arm + one 1-row broadcast of the
    * pooled moments — scan-bound. Output: one row per arm
    * (arm, n, mean_raw, mean_adj, theta); θ NULL when var(x) = 0. */
  def cupedAdjust(df: DataFrame, armCol: String, preCol: String,
                  valCol: String): DataFrame = {
    val x = col(preCol).cast("decimal(18,2)")
    val y = col(valCol).cast("decimal(18,2)")
    val pooled = df.agg(
      count(lit(1)).as("_n_"), sum(x).as("_sx_"), sum(y).as("_sy_"),
      sum(x * x).as("_sxx_"), sum(x * y).as("_sxy_"))
      .withColumn("_varn_",
        (col("_n_") * col("_sxx_") - col("_sx_") * col("_sx_"))
          .cast("decimal(38,6)"))
      .withColumn("theta",
        when(col("_varn_") > 0,
          (col("_n_") * col("_sxy_") - col("_sx_") * col("_sy_"))
            .cast("double") / col("_varn_").cast("double")))
      .withColumn("_xbar_",
        col("_sx_").cast("double") / col("_n_").cast("double"))
      .select("theta", "_xbar_")
    df.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n"), sum(x).as("_ax_"), sum(y).as("_ay_"))
      .crossJoin(broadcast(pooled))
      .select(col("arm"), col("n"),
        (col("_ay_").cast("double") / col("n").cast("double"))
          .as("mean_raw"),
        (col("_ay_").cast("double") / col("n").cast("double") -
          col("theta") *
            (col("_ax_").cast("double") / col("n").cast("double") -
              col("_xbar_"))).as("mean_adj"),
        col("theta"))
  }

  /** MARKOV-CHAIN (removal-effect) attribution — the model-based member
    * of the attribution family (at01 last-touch / at02 linear / at03
    * position are heuristics; this one asks the counterfactual): build
    * the first-order channel-transition chain over user journeys
    * (START → touch channels in time order → CONV if the user
    * converted, else NULL), and credit each channel by its REMOVAL
    * EFFECT — how much P(conversion) drops when the channel's state is
    * knocked out of the chain, i.e. every path through it fails
    * (P(removed) := 0 in the absorption system — Anderl et al.,
    * "Mapping the customer journey", IJRM 2016).
    *
    * EXACT arithmetic throughout: absorption probabilities of a chain
    * with transition counts c(s→t) solve the integer linear system
    * `tot(s)·P(s) = Σ_t c(s→t)·P(t) + c(s→CONV)` — so
    * P(CONV | START) is the exact RATIONAL det(A_start←b)/det(A) by
    * Cramer's rule, computed here with fraction-free Bareiss
    * elimination in BigInt. No iteration, no convergence threshold, no
    * floats: a SQL replay computing the same determinants gets the same
    * integers. Removal effects quantize to micro
    * (`(P_base−P_c)/P_base · 1e6`, floored, clamped at 0), and the
    * converted-users' total revenue splits across channels by the at02
    * largest-remainder discipline (credit exactly conserved; remainder
    * by micro-share remainder desc, then channel asc).
    *
    * Plan: journey assembly + transition counting is the distributed,
    * data-sized work (one array-agg per user, ONE counting pass — the
    * removal variants differ only in the tiny matrix, not the counts);
    * the collected transition table is ≤ (vocab+2)² rows, and the
    * solves are driver-side BigInt on that tiny matrix — the
    * BinaryOptimalEvaluator discipline. Users who converted with NO
    * touches contribute START→CONV mass (the `direct` population
    * shapes the baseline but earns no channel credit, matching at01's
    * convention).
    *
    * Output: one row per touch channel —
    * (channel, removal_micro, credit_milli). */
  def markovAttribution(events: DataFrame, userCol: String, tsCol: String,
                        tieCol: String, typeCol: String, convType: String,
                        touchTypes: Seq[String],
                        revenueExpr: String): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch channel")
    val spark = events.sparkSession
    import spark.implicits._
    val touches = events.where(col(typeCol).isin(touchTypes.map(x => x: Any): _*))
      .groupBy(col(userCol))
      .agg(expr(s"transform(array_sort(collect_list(" +
        s"struct($tsCol as t, $tieCol as tb, $typeCol as c))), x -> x.c)")
        .as("_seq_"))
    val conv = events.where(col(typeCol) === convType)
      .groupBy(col(userCol))
      .agg(sum(expr(revenueExpr)).as("_rev_"))
    val users = touches.join(conv, Seq(userCol), "full_outer")
      .select(
        coalesce(col("_seq_"), expr("array()")).as("_seq_"),
        when(col("_rev_").isNotNull, lit("CONV")).otherwise(lit("NULL"))
          .as("_term_"),
        coalesce(col("_rev_"), lit(0L)).as("_rev_"))
    val trans = users
      .select(explode(expr(
        """CASE WHEN size(_seq_) = 0
          |  THEN array(struct('__start__' as f, _term_ as t))
          |  ELSE concat(
          |    array(struct('__start__' as f, element_at(_seq_, 1) as t)),
          |    transform(slice(_seq_, 1, size(_seq_) - 1),
          |      (x, i) -> struct(x as f, element_at(_seq_, i + 2) as t)),
          |    array(struct(element_at(_seq_, -1) as f, _term_ as t)))
          |END""".stripMargin)).as("_tr_"))
      .groupBy(col("_tr_.f").as("f"), col("_tr_.t").as("t"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totalRev = users.where(col("_term_") === "CONV")
      .agg(coalesce(sum(col("_rev_")), lit(0L))).as[Long].head()

    // driver-side exact solve over the vocabulary-sized system; a
    // removed channel's row becomes P(ch) = 0 (knocked-out state)
    val states = "__start__" +: touchTypes
    val idx = states.zipWithIndex.toMap
    def pConv(removed: Option[String]): (BigInt, BigInt) = {
      val n = states.length
      val a = Array.fill(n, n)(BigInt(0))
      val b = Array.fill(n)(BigInt(0))
      states.indices.foreach { i =>
        val tot = trans.filter(_._1 == states(i)).map(_._3).sum
        a(i)(i) = BigInt(if (tot == 0) 1L else tot) // absent state: P = 0
      }
      trans.foreach { case (f, t, cnt) =>
        if (idx.contains(f)) {
          if (idx.contains(t)) a(idx(f))(idx(t)) -= BigInt(cnt)
          else if (t == "CONV") b(idx(f)) += BigInt(cnt)
        }
      }
      removed.foreach { ch =>
        val r = idx(ch)
        states.indices.foreach(j => a(r)(j) = BigInt(0))
        a(r)(r) = BigInt(1)
        b(r) = BigInt(0)
      }
      val dA = detBareiss(a.map(_.clone))
      val aB = a.map(_.clone)
      states.indices.foreach(i => aB(i)(0) = b(i))
      val dB = detBareiss(aB)
      if (dA.signum == 0) (BigInt(0), BigInt(1))
      else if (dA.signum < 0) (-dB, -dA) else (dB, dA)
    }
    val (bn, bd) = pConv(None)
    val removal = touchTypes.map { ch =>
      val (cn, cd) = pConv(Some(ch))
      val diff = bn * cd - cn * bd
      val micro =
        if (bn.signum <= 0 || diff.signum <= 0) BigInt(0)
        else (diff * 1000000) / (bn * cd)
      ch -> micro.toLong
    }
    val reSum = removal.map(_._2).sum
    val floors = removal.map { case (ch, re) =>
      val prod = BigInt(totalRev) * re
      (ch, re, if (reSum == 0) BigInt(0) else prod / reSum,
        if (reSum == 0) BigInt(0) else prod % reSum)
    }
    val extra = (BigInt(totalRev) - floors.map(_._3).sum).toLong
    val order = floors.sortBy { case (ch, _, _, rem) => (-rem, ch) }
      .map(_._1).zipWithIndex.toMap
    val rows = floors.map { case (ch, re, fl, _) =>
      val credit =
        if (reSum == 0) 0L
        else fl.toLong + (if (order(ch) < extra) 1L else 0L)
      (ch, re, credit)
    }
    rows.toDF("channel", "removal_micro", "credit_milli")
  }

  /** Fraction-free Bareiss determinant over BigInt — exact, division-
    * free in effect (every interior division is exact by construction).
    * Mutates its argument. */
  private def detBareiss(a: Array[Array[BigInt]]): BigInt = {
    val n = a.length
    var sign = BigInt(1)
    var prev = BigInt(1)
    for (k <- 0 until n - 1) {
      if (a(k)(k).signum == 0) {
        val p = (k + 1 until n).find(a(_)(k).signum != 0)
        if (p.isEmpty) return BigInt(0)
        val t = a(k); a(k) = a(p.get); a(p.get) = t; sign = -sign
      }
      for (i <- k + 1 until n; j <- k + 1 until n)
        a(i)(j) = (a(i)(j) * a(k)(k) - a(i)(k) * a(k)(j)) / prev
      prev = a(k)(k)
    }
    sign * a(n - 1)(n - 1)
  }

  /** Theil–Sen robust slope per group — the median of all pairwise
    * slopes (y_j−y_i)/(x_j−x_i) over x_j > x_i: breaks down only past
    * 29 % outliers where least squares ([[linearFit]]) breaks at one.
    * Each slope is ONE correctly-rounded division of exact integers, and
    * the median is an ORDER statistic — the single formula
    * `(lo + hi) / 2` over the ⌈n/2⌉-th and (⌊n/2⌋+1)-th slopes covers
    * odd (lo = hi, and (x+x)/2 = x exactly in IEEE) and even alike, so
    * the whole statistic replays bit-identically. Pairs with equal x are
    * excluded (vertical slope undefined).
    *
    * Plan: one group-keyed self-join (pairs are Σ n_g² per group — the
    * input is a per-period AGGREGATE series, calendar-bounded by
    * construction, so the quadratic is over months, not rows), one
    * group-partitioned ordered window, one rollup.
    * Output: (groupCol, n_pairs, ts_slope). */
  def theilSenSlope(df: DataFrame, groupCol: String, xCol: String,
                    yCol: String): DataFrame = {
    val a = df.select(col(groupCol), col(xCol).cast("long").as("_x1_"),
      col(yCol).cast("long").as("_y1_"))
    val b = df.select(col(groupCol), col(xCol).cast("long").as("_x2_"),
      col(yCol).cast("long").as("_y2_"))
    val pairs = a.join(b, Seq(groupCol))
      .where(col("_x2_") > col("_x1_"))
      .select(col(groupCol),
        ((col("_y2_") - col("_y1_")).cast("double") /
          (col("_x2_") - col("_x1_")).cast("double")).as("_s_"))
    val w = Window.partitionBy(groupCol).orderBy(col("_s_"))
    pairs
      .withColumn("_rn_", row_number().over(w))
      .withColumn("_n_", count(lit(1)).over(Window.partitionBy(groupCol)))
      .groupBy(col(groupCol))
      .agg(max(col("_n_")).as("n_pairs"),
        max(when(col("_rn_") === expr("(_n_ + 1) div 2"), col("_s_")))
          .as("_lo_"),
        max(when(col("_rn_") === expr("_n_ div 2 + 1"), col("_s_")))
          .as("_hi_"))
      .select(col(groupCol), col("n_pairs"),
        ((col("_lo_") + col("_hi_")) / lit(2.0)).as("ts_slope"))
  }

  /** Autocorrelation function over an integer-indexed series: for each
    * lag k ≤ `maxLag`, the ACF  r_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)².
    * Scaled through by n² the centered terms become EXACT integers
    * (c_t = n·x_t − S with S = Σx, n = count), so both sums are exact
    * DECIMAL and the one division replays bit-identically — no float μ
    * subtraction to disagree on.
    *
    * Plan: the (n, S) scalars broadcast through a 1-row cross join, the
    * lag pairs come from ONE equi-join of the series against itself
    * shifted (`t+k` exploded per lag) — a calendar-bounded series joins
    * in-memory at any corpus scale, since the series is already an
    * aggregate. Output: (lag, n_pairs, acf), lags with no pairs or a
    * constant series emit NULL acf. */
  def autocorrelation(df: DataFrame, tCol: String, valCol: String,
                      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val base = df.select(col(tCol).cast("long").as("_t_"),
      col(valCol).cast("long").as("_x_"))
    val stats = base.agg(count(lit(1)).as("_n_"), sum("_x_").as("_s_"))
    val centered = base.crossJoin(broadcast(stats))
      .select(col("_t_"),
        (col("_n_").cast("decimal(38,0)") * col("_x_") -
          col("_s_").cast("decimal(38,0)")).as("_c_"))
    val den = centered.agg(sum(col("_c_") * col("_c_")).as("_den_"))
    val lagged = centered
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("_tk_", col("_t_") + col("lag"))
      .join(centered.select(col("_t_").as("_tk_"), col("_c_").as("_ck_")),
        "_tk_")
    lagged.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_c_") * col("_ck_")).as("_num_"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        when(col("_den_") > 0,
          col("_num_").cast("double") / col("_den_").cast("double"))
          .as("acf"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    * test: compares arm A's rank sum against arm B with no normality
    * assumption, the right tool when the metric is skewed (latencies,
    * revenue) and [[welchTTest]]'s mean comparison misleads.
    *
    * Everything up to the z score is INTEGER and tie-exact by doubling:
    * a row at value v carries doubled midrank `2·before(v) + c(v) + 1`
    * (before = rows strictly below, c = rows tied at v), so tied groups
    * need no fractional averages. `u2_a = 2·R_A − n_a(n_a+1)` is twice
    * the U statistic. The normal approximation with tie correction,
    *   σ²(U) = n_a·n_b·((n+1)·n·(n−1) − Σ(t³−t)) / (12·n·(n−1)),
    *   z = (u2_a − n_a·n_b) / (2·σ),
    * is one fixed program over exact DECIMAL inputs (the welch/az01
    * convention) — a SQL replay is bit-identical.
    *
    * Plan: per-value counts (map-side partial), then the strictly-below
    * prefix count via [[Packing.runningTotalSharded]] over the DISTINCT
    * values — the [[Temporal.ksStatistic]] cure: a wide-domain metric
    * (latency micros, revenue cents) has distinct-value cardinality ≈
    * row cardinality, so an ordered window here would be a data-sized
    * single-partition WindowExec at scale; the sharded prefix sum keeps
    * every sort partition-local. NULL values are excluded (no rank for
    * "unmeasured").
    *
    * Output: one row (n_a, n_b, u2_a, tie_term, z_stat); z is NULL when
    * either arm is empty or every value ties (zero variance). */
  def mannWhitneyU(df: DataFrame, armCol: String, valCol: String,
                   armA: String, armB: String): DataFrame = {
    val perValue = df
      .where(col(armCol).isin(armA, armB))
      .select(col(armCol).as("_arm_"), col(valCol).cast("long").as("_v_"))
      .where(col("_v_").isNotNull)
      .groupBy("_v_")
      .agg(count(lit(1)).as("_c_"),
        sum(when(col("_arm_") === armA, 1L).otherwise(0L)).as("_ca_"))
    // inclusive sharded running total minus own count = strictly-below
    // count ("before"); _v_ is unique after the groupBy, so no tie cols
    val agg = Packing
      .runningTotalSharded(perValue, "_v_", "_c_", "_run_")
      .withColumn("_before_", col("_run_") - col("_c_"))
      .agg(
        sum(col("_ca_")).as("n_a"),
        sum(col("_c_") - col("_ca_")).as("n_b"),
        // doubled rank sum in DECIMAL too: 2·n_a·N approaches Long.Max at
        // ~1.5e9 rows per arm and wraps silently (same class as the cube)
        sum(col("_ca_").cast("decimal(38,0)") *
          (lit(2L) * col("_before_") + col("_c_") + lit(1L)))
          .as("_r2a_"),
        // cube in DECIMAL: a hot value tied across ≥3M rows would
        // overflow a LONG c³ silently
        sum(col("_c_").cast("decimal(38,0)") * col("_c_") * col("_c_")
          - col("_c_")).as("_tie_"))
    val n = (col("n_a") + col("n_b")).cast("decimal(38,0)")
    val varNum = (col("n_a").cast("decimal(38,0)") *
      col("n_b").cast("decimal(38,0)") *
      ((n + 1) * n * (n - 1) - col("_tie_"))).cast("decimal(38,0)")
    agg
      // internal arithmetic in DECIMAL; the published u2_a keeps its LONG
      // schema with a loud (not wrapping) narrowing — u2 past Long.Max
      // means the caller is beyond the documented contract anyway
      .withColumn("_u2d_", (col("_r2a_") -
        col("n_a").cast("decimal(38,0)") * (col("n_a") + lit(1L)))
        .cast("decimal(38,0)"))
      .withColumn("u2_a",
        when(abs(col("_u2d_")) <= lit(Long.MaxValue), col("_u2d_").cast("long"))
          .otherwise(raise_error(concat(lit("mannWhitneyU: u2_a overflows " +
            "BIGINT ("), coalesce(col("_u2d_").cast("string"), lit("NULL")),
            lit(")")))))
      .withColumn("tie_term", col("_tie_").cast("long"))
      .withColumn("_var_",
        when(col("n_a") > 0 && col("n_b") > 0,
          varNum.cast("double") /
            (lit(12.0) * n.cast("double") * (n.cast("double") - lit(1.0)))))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("tie_term"),
        when(col("_var_") > 0,
          (col("u2_a") - col("n_a").cast("decimal(38,0)") * col("n_b"))
            .cast("double") /
            (lit(2.0) * sqrt(col("_var_")))).as("z_stat"))
  }

  /** Welch's two-sample t statistic per metric group — the unequal-variance
    * A/B test report (the safe default; pooled-variance Student's t is
    * wrong the moment the arms differ in spread or size).
    *
    * Moments are exact: per-arm n, Σv, Σv² as DECIMAL sums of a
    * DECIMAL(18,2) value (squares at DECIMAL(38,4) cannot round below
    * ~10^17 rows), so the only floating point is the final fixed program —
    * mean = Σv/n, sample variance s² = (Σv² − Σv²/n)/(n−1), then
    *   t  = (meanA − meanB) / sqrt(sA²/nA + sB²/nB)
    *   df = (sA²/nA + sB²/nB)² / ((sA²/nA)²/(nA−1) + (sB²/nB)²/(nB−1))
    * each written ONCE with fixed parenthesization (the az01 convention) so
    * a SQL replay is bit-identical. Arms with n < 2 or zero combined
    * variance yield NULL t (insufficient evidence ≠ infinite evidence).
    *
    * Plan: one partial+final aggregate per arm over the group key, one
    * equi-join of two tiny per-group tables — scan-bound at any scale.
    * Output: (`keyCol`, n_a, mean_a, n_b, mean_b, t_stat, welch_df). */
  def welchTTest(df: DataFrame, keyCol: String, armCol: String,
                 valCol: String, armA: String, armB: String): DataFrame = {
    def moments(arm: String, sfx: String) = df
      .where(col(armCol) === arm)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as(s"n_$sfx"),
        sum(col(valCol).cast("decimal(18,2)")).as(s"_s$sfx"),
        sum(col(valCol).cast("decimal(18,2)") * col(valCol).cast("decimal(18,2)"))
          .as(s"_ss$sfx"))
    def vOverN(sfx: String): Column = {
      val nn = col(s"n_$sfx").cast("double")
      val s = col(s"_s$sfx").cast("double")
      val ss = col(s"_ss$sfx").cast("double")
      // s^2/n with the variance expanded in place, fixed parenthesization
      ((ss - (s * s) / nn) / (nn - lit(1.0))) / nn
    }
    moments(armA, "a").join(moments(armB, "b"), keyCol)
      .withColumn("_se2_",
        when(col("n_a") >= 2 && col("n_b") >= 2, vOverN("a") + vOverN("b")))
      .select(col(keyCol),
        col("n_a"), (col("_sa").cast("double") / col("n_a").cast("double")).as("mean_a"),
        col("n_b"), (col("_sb").cast("double") / col("n_b").cast("double")).as("mean_b"),
        when(col("_se2_") > 0,
          (col("_sa").cast("double") / col("n_a").cast("double") -
            col("_sb").cast("double") / col("n_b").cast("double")) /
            sqrt(col("_se2_"))).as("t_stat"),
        when(col("_se2_") > 0,
          (col("_se2_") * col("_se2_")) /
            ((vOverN("a") * vOverN("a")) / (col("n_a").cast("double") - lit(1.0)) +
              (vOverN("b") * vOverN("b")) / (col("n_b").cast("double") - lit(1.0))))
          .as("welch_df"))
  }

  /** RFM segmentation — the classic customer-value triage (Recency /
    * Frequency / Monetary, each scored into `buckets` quantile tiers,
    * score 1 = best): recency = days from the customer's last order to
    * the dataset's as-of date (its max order date), frequency = order
    * count, monetary = summed order value. Tier assignment is NTILE
    * semantics (bucket sizes differ by ≤ 1, earlier buckets larger,
    * total order tie-broken by the customer key) — but computed WITHOUT
    * `ntile().over(Window.orderBy(...))`: a global unpartitioned window
    * funnels every customer through one task, so the global rank comes
    * from [[Packing.runningTotalSharded]] (two-phase sharded prefix
    * count) and the tier from [[Packing.ntileOf]]'s closed form.
    *
    * Plan: one per-customer aggregate (key-partitioned), one scalar
    * as-of aggregate broadcast back, three sharded prefix counts (each:
    * tiny totals table + per-shard parallel windows). Output: one row
    * per customer — (cust, recency_days, frequency, monetary_cents,
    * r_score, f_score, m_score). */
  def rfmSegments(orders: DataFrame, custCol: String, dateCol: String,
                  valueCentsCol: String, buckets: Int = 5,
                  numShards: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val per = orders.groupBy(col(custCol))
      .agg(max(col(dateCol)).as("_last_"),
        count(lit(1)).as("frequency"),
        sum(col(valueCentsCol).cast("long")).as("monetary_cents"))
    val asOf = orders.agg(max(col(dateCol)).as("_asof_"),
      count_distinct(col(custCol)).as("_n_"))
    val base = per.crossJoin(broadcast(asOf))
      .withColumn("recency_days",
        datediff(col("_asof_"), col("_last_")).cast("long"))
      // rank keys: ascending recency (recent = rank 1), descending
      // frequency/monetary (big = rank 1) via negation
      .withColumn("_negf_", -col("frequency"))
      .withColumn("_negm_", -col("monetary_cents"))
      .withColumn("_one_", lit(1L))
    def tier(rankCol: String): Column =
      Packing.ntileOf(rankCol, "_n_", buckets)
    val ranked = Seq(("recency_days", "_rr_"), ("_negf_", "_fr_"),
      ("_negm_", "_mr_")).foldLeft(base) { case (acc, (idc, rk)) =>
        // pinned: chained unpinned, rfm01 read 2.39 -> 4.39 s (sf0.1, local[4])
        Packing.runningTotalSharded(Materialize.lazyRound(acc), idc, "_one_",
          rk, numShards = numShards, tieCols = Seq(custCol))
      }
    ranked.select(col(custCol), col("recency_days"), col("frequency"),
      col("monetary_cents"), tier("_rr_").as("r_score"),
      tier("_fr_").as("f_score"), tier("_mr_").as("m_score"))
  }

  /** Nearest-neighbor matching WITH REPLACEMENT on a scalar score within
    * exact-match blocks — the matched-pairs step of an observational ATT
    * estimate (propensity/covariate matching): every treated unit pairs
    * with the control in its block whose score is closest. Deterministic
    * contract: controls sharing a score are represented by the row with
    * the SMALLEST `idCol`; a distance tie between the nearest-below and
    * nearest-above control goes to the control with the smaller score
    * (and the caller's ATT is then exactly replayable by a brute-force
    * argmin oracle applying the same rules).
    *
    * Plan: one (block, score) aggregate for control representatives,
    * then ONE union + two window passes partitioned by the block key —
    * the [[AsOfJoin]] program with score as the "time" axis, so cost per
    * block is sort + linear scan, never the treated × control product.
    * Like AsOfJoin, a block is a single window partition: blocks are the
    * parallelism unit (hot-block mitigation: sub-block on a coarse score
    * range, the AsOfJoin two-phase recipe). Blocks with no control drop
    * (inner semantics). Output: every treated column +
    * (ctrl_id, ctrl_score, ctrl_outcome). */
  def nnMatchedPairs(df: DataFrame, blockCols: Seq[String], idCol: String,
                     treatCol: String, scoreCol: String,
                     outcomeCol: String): DataFrame = {
    require(blockCols.nonEmpty,
      "need at least one exact-match block column (use a constant to disable)")
    val reps = df.where(!col(treatCol))
      .groupBy((blockCols :+ scoreCol).map(col): _*)
      .agg(min(struct(col(idCol).as("id"),
        col(outcomeCol).as("outcome"))).as("_rep_"))
      .select((blockCols.map(col) :+ col(scoreCol).as("_cs_") :+
        struct(col(scoreCol).as("score"), col("_rep_.id").as("id"),
          col("_rep_.outcome").as("outcome")).as("_c_")): _*)
    val treated = df.where(col(treatCol))
    val cType = reps.select(col("_c_")).schema("_c_").dataType
    val tStruct = struct(treated.columns.map(col): _*)
    val tType = treated.select(tStruct.as("_t_")).schema("_t_").dataType
    val u = reps.select((blockCols.map(col) :+ col("_cs_").as("_s_") :+
        lit(0).as("_side_") :+ col("_c_") :+
        lit(null).cast(tType).as("_t_")): _*)
      .unionByName(treated.select((blockCols.map(col) :+
        col(scoreCol).cast(reps.schema("_cs_").dataType).as("_s_") :+
        lit(1).as("_side_") :+ lit(null).cast(cType).as("_c_") :+
        tStruct.as("_t_")): _*))
    val wPrev = Window.partitionBy(blockCols.map(col): _*)
      .orderBy(col("_s_"), col("_side_"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(blockCols.map(col): _*)
      .orderBy(col("_s_").desc, col("_side_"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dPrev = abs(col("_s_") - col("_prev_.score"))
    val dNext = abs(col("_next_.score") - col("_s_"))
    val pick = when(col("_next_").isNull ||
        (col("_prev_").isNotNull && dPrev <= dNext), col("_prev_"))
      .otherwise(col("_next_"))
    u.withColumn("_prev_", last(col("_c_"), ignoreNulls = true).over(wPrev))
      .withColumn("_next_", last(col("_c_"), ignoreNulls = true).over(wNext))
      .where(col("_side_") === 1)
      .withColumn("_m_", pick)
      .where(col("_m_").isNotNull)
      .select(treated.columns.map(c => col(s"_t_.$c").as(c)) ++ Seq(
        col("_m_.id").as("ctrl_id"), col("_m_.score").as("ctrl_score"),
        col("_m_.outcome").as("ctrl_outcome")): _*)
  }

  /** Calibration report for a [0, 1000]-milli score against a boolean
    * outcome — the reliability diagram behind every "is this model/
    * heuristic score a probability?" check (and the input to expected
    * calibration error, which is the n-weighted mean of `gap_milli`):
    * scores bucket by `bucketMilli`-wide bins, each bin reports observed
    * positive rate vs mean claimed score, all in integer fixed point so
    * the table replays on any engine.
    *
    * One map-side-combined aggregate on the bucket key — no windows, no
    * joins; bins are ≤ 1000/bucketMilli rows at any data scale. Output:
    * (bucket, n, n_pos, pos_rate_milli, avg_score_milli, gap_milli),
    * bucket = score div bucketMilli. */
  def calibrationReport(df: DataFrame, labelCol: String,
                        scoreMilliCol: String,
                        bucketMilli: Long = 100L): DataFrame = {
    require(bucketMilli >= 1, s"bucketMilli must be >= 1, got $bucketMilli")
    df.groupBy(expr(s"$scoreMilliCol div $bucketMilli").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("n_pos"),
        sum(col(scoreMilliCol).cast("long")).as("_ss_"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("(1000 * n_pos) div n").as("pos_rate_milli"),
        expr("_ss_ div n").as("avg_score_milli"),
        expr("abs((1000 * n_pos) div n - _ss_ div n)").as("gap_milli"))
  }

  /** Pairwise association rules over baskets — the support / confidence /
    * lift mining step behind "customers who bought A also bought B"
    * (Agrawal/Srikant Apriori, VLDB 1994, size-2 tier): for every
    * directed item pair A→B with joint basket support ≥ `minSupport`,
    * confidence = P(B|A) and lift = P(A,B)/(P(A)·P(B)), both in integer
    * fixed point — `conf_milli = (1000·f_ab) div f_a`, `lift_milli =
    * (1000·f_ab·N) div (f_a·f_b)` — so the rule table replays
    * bit-identically (float ratios drift; `f_ab·N·1000` bounds the
    * arithmetic, BIGINT-safe to ~10⁹ baskets × supports).
    *
    * Plan: item multiplicity inside a basket collapses first (distinct),
    * pair counts come from the basket self-join with `A < B` — the
    * [[Graph.triangleStats]] wedge shape, cost Σ basket-size², probed
    * via [[basketItems]] (hottest-basket wedge + corpus amplification):
    * a degenerate basket raises by name pointing at `maxBasketSize`
    * instead of hanging the join —
    * then each undirected pair emits both directions joined to the two
    * item supports (item-keyed broadcast-friendly shuffles).
    * Output: (antecedent, consequent, f_a, f_b, f_ab, conf_milli,
    * lift_milli). */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minSupport: Long, maxBasketSize: Int = 0,
                       pairBound: Long = BasketPairBound): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    // basketItems materializes the distinct frame (read by supports, the
    // probe, AND the pair join) and runs the Σ size² admission probe
    val (bi, pairVolume) = basketItems(
      df.select(col(basketCol).as("_bk_"), col(itemCol).as("_it_")),
      "_bk_", "_it_", "associationRules", maxBasketSize, pairBound)
    val n = bi.select(col("_bk_")).distinct().count()
    // pinned: items feeds the Apriori frequent-set probe below AND the
    // final confidence/lift joins — without the pin each consumer re-runs
    // the item-frequency aggregate over bi
    val items = bi.groupBy(col("_it_")).agg(count(lit(1)).as("_f_"))
      .transform(Materialize.lazyRound)
    // r20 Apriori pre-pruning (verdict item 4): f_ab <= min(f_a, f_b), so
    // an item with global frequency < minSupport cannot appear in any pair
    // surviving the f_ab >= minSupport filter — dropping its rows BEFORE
    // the self-join preserves the declared output exactly while shrinking
    // the join fan-out quadratically in the pruned share. The frequent set
    // is broadcast (left_semi), which keeps bi's basket partitioning on
    // the streamed side; |frequent| <= |rows|/minSupport, and the explicit
    // count gate skips the prune when the set is too large to broadcast —
    // exactly the low-selectivity regime where it would prune ~nothing.
    val joinSide = if (minSupport > 1) {
      val frequent = items.where(col("_f_") >= minSupport).select(col("_it_"))
      if (frequent.count() <= (1L << 22))
        bi.join(broadcast(frequent), Seq("_it_"), "left_semi")
      else bi
    } else bi
    val pairRows = joinSide.as("a").join(joinSide.as("b"),
        col("a._bk_") === col("b._bk_") && col("a._it_") < col("b._it_"))
      .select(col("a._it_").as("_x_"), col("b._it_").as("_y_"))
    // Σm² is an upper bound here: the Apriori prune and the a < b
    // half-join only shrink the fan-out
    val pairs = sizedForPairAgg(pairRows, pairVolume, "_x_", "_y_")
      .groupBy(col("_x_"), col("_y_"))
      .agg(count(lit(1)).as("f_ab"))
      .where(col("f_ab") >= minSupport)
    val directed = pairs.select(col("_x_").as("antecedent"),
        col("_y_").as("consequent"), col("f_ab"))
      .unionByName(pairs.select(col("_y_").as("antecedent"),
        col("_x_").as("consequent"), col("f_ab")))
    directed
      .join(items.select(col("_it_").as("antecedent"), col("_f_").as("f_a")),
        "antecedent")
      .join(items.select(col("_it_").as("consequent"), col("_f_").as("f_b")),
        "consequent")
      .select(col("antecedent"), col("consequent"), col("f_a"), col("f_b"),
        col("f_ab"),
        expr("(1000 * f_ab) div f_a").as("conf_milli"),
        expr(s"(1000 * f_ab * CAST($n AS BIGINT)) div (f_a * f_b)")
          .as("lift_milli"))
  }

  /** Cumulative gains / lift table — the decile ranking report that
    * completes the model-eval family ([[Tuning.optimizeThreshold]] =
    * ROC/threshold, [[calibrationReport]] = reliability, this = "how
    * much of the outcome does the top X% capture"): rows rank by score
    * descending (ties by `idCol` ascending), split into `buckets`
    * NTILE-semantics tiers, and each tier reports its own and its
    * cumulative positive capture vs the random baseline.
    *
    * Integer end to end: `gain_milli = (1000·cum_pos) div total_pos`
    * (share of all positives inside the top tiers), `lift_milli =
    * (1000·cum_pos·N) div (cum_n·total_pos)` (capture ÷ the random
    * expectation — 1000 = exactly random). Tiering is [[Packing.ntileOf]]
    * over a SHARDED global rank
    * ([[Packing.runningTotalSharded]] — the [[rfmSegments]] program), so
    * there is no unpartitioned window over the scored rows; the only
    * tiny table is the `buckets`-row tier rollup, whose cumulative sums
    * come from a triangular self-join (constant-sized, no WindowExec).
    *
    * Output: (bucket, n, n_pos, cum_n, cum_pos, gain_milli, lift_milli),
    * one row per non-empty tier, bucket 1 = highest scores. */
  def liftGainsReport(df: DataFrame, idCol: String, scoreCol: String,
                      labelCol: String, buckets: Int = 10,
                      numShards: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val base = df.select(col(idCol), col(scoreCol),
        col(labelCol).cast("long").as("_pos_"))
      .withColumn("_negs_", -col(scoreCol))
      .withColumn("_one_", lit(1L))
    val ranked = Packing.runningTotalSharded(base, "_negs_", "_one_",
      "_rk_", numShards = numShards, tieCols = Seq(idCol))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("_n_"))))
    val tiered =
      ranked.withColumn("bucket", Packing.ntileOf("_rk_", "_n_", buckets))
    // materialize the <= buckets-row rollup: it feeds THREE consumers
    // (both triangular sides + totals), and without materialization each
    // would recompute the full sharded ranking scan upstream — 3x the
    // dominant cost at scale for a table of at most `buckets` rows
    val per = tiered.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("_pos_")).as("n_pos"))
      .transform(Materialize.round)
    // cumulative over the <= buckets-row rollup: triangular self-join
    // (the runningTotalSharded phase-2 discipline — no WindowExec)
    val e = per.select(col("bucket").as("_eb_"), col("n").as("_en_"),
      col("n_pos").as("_ep_"))
    // broadcast the ≤buckets-row side explicitly: the materialization
    // erased its stats, and without the hint the theta-join plans as a
    // shuffle CartesianProduct instead of a one-pass BNLJ
    val cum = per.join(broadcast(e), col("_eb_") <= col("bucket"))
      .groupBy("bucket", "n", "n_pos")
      .agg(sum(col("_en_")).as("cum_n"), sum(col("_ep_")).as("cum_pos"))
    val totals = per.agg(sum(col("n")).as("_tn_"),
      sum(col("n_pos")).as("_tp_"))
    cum.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        expr("(1000 * cum_pos) div _tp_").as("gain_milli"),
        // lift numerator in DECIMAL(38,0): 1000·cum_pos·_tn_ wraps a LONG
        // silently past ~9e15 (1e9 docs × 1% positives already exceeds
        // it), emitting negative lift for the deep tiers; the quotient
        // is ≤ 1000·N so the cast back to BIGINT is exact
        expr("cast((1000 * cast(cum_pos as decimal(38,0)) * _tn_) div " +
          "(cast(cum_n as decimal(38,0)) * _tp_) as bigint)").as("lift_milli"))
  }

  /** Windowed ordered funnel — [[funnelTimes]] with the conversion-window
    * bound every product-analytics funnel carries ("completed checkout
    * within 24h of first visit"): step k counts only if it happens
    * strictly after step k−1 AND within `windowSeconds` of the user's
    * step-1 anchor. Semantics are EARLIEST-ANCHOR GREEDY (the first-touch
    * convention): the anchor is the user's first step-1 event, and each
    * later step takes its earliest admissible completion — deterministic,
    * join-expressible, and replayable; a sliding re-anchoring scan (any
    * anchor may complete the chain) is a different, stateful operator.
    *
    * Same plan as [[funnelTimes]]: k filtered aggregates chained by a
    * user-keyed equi-join, each step's filter shrinking the fact slice;
    * the window bound is one extra predicate inside each `min(when(...))`
    * — no new shuffles. Output: one row per step-1 user, nullable
    * `t1..tk`. */
  def windowFunnelTimes(df: DataFrame, userCol: String, tsCol: String,
                        stepCol: String, steps: Seq[String],
                        windowSeconds: Long): DataFrame = {
    require(windowSeconds > 0, s"windowSeconds must be > 0: $windowSeconds")
    funnelFold(df, userCol, tsCol, stepCol, steps)(
      _ <= col("t1") + expr(s"INTERVAL $windowSeconds SECOND"))
  }
}

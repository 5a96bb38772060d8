package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.operators.{Analytics, DataQuality, Retrieval, Sketch, Temporal, Tuning}

/** Behavioral-analytics + retrieval tier (late r7): funnel, retention
  * cohorts, interval merge, exact group quantiles, histogram, BM25 top-k,
  * and exact-sum correlation/regression — each hash-gated against a
  * DuckDB replay of the same integer/decimal/fixed-IEEE program.
  */
object AnalyticsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- RFM segmentation: quantile tiers via sharded prefix counts +
    // the closed-form ntile formula — no global window; the oracle is
    // DuckDB's own ntile() over the same total order, so the closed form
    // is validated against an independent implementation ------------------
    "rfm01_rfm_segments" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      Analytics.rfmSegments(orders, "o_custkey", "o_orderdate", "cents",
          buckets = 5)
        .orderBy("o_custkey")
    }),

    // ---- association rules over order baskets: support ≥ 2 part pairs
    // with integer-fixed-point confidence and lift --------------------------
    "ar01_association_rules" -> ((s, d) => {
      val bi = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      Analytics.associationRules(bi, "basket", "item", minSupport = 2L)
        .orderBy("antecedent", "consequent")
    }),

    // ---- matched-pairs ATT: BUILDING-segment customers matched to the
    // nearest-balance control within their nation (with replacement),
    // revenue sums per nation; the oracle is the brute-force argmin with
    // the same deterministic tie rules -------------------------------------
    "psm01_matched_att" -> ((s, d) => {
      val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("_rev_"))
      val df = Tables.customer(s, d)
        .join(rev, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_mktsegment") === "BUILDING").as("treated"),
          expr("cast(round(c_acctbal * 100) as bigint)").as("bal_cents"),
          coalesce(col("_rev_"), lit(0L)).as("rev_cents"))
      Analytics.nnMatchedPairs(df, Seq("c_nationkey"), "c_custkey",
          "treated", "bal_cents", "rev_cents")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("rev_cents")).as("sum_treated_cents"),
          sum(col("ctrl_outcome")).as("sum_ctrl_cents"))
        .orderBy("c_nationkey")
    }),

    // ---- AMS tug-of-war F2 sketch per language next to the exact second
    // moment — self-join-size estimation, bit-replayed end to end ----------
    "am01_ams_f2" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      val exact = words.groupBy("lang", "word").agg(count(lit(1)).as("_f_"))
        .groupBy("lang").agg(sum(col("_f_") * col("_f_")).as("f2_exact"))
      Sketch.amsF2(words, Seq("lang"), "word", depth = 8)
        .join(exact, "lang")
        .select(col("lang"), col("n_rows"), col("f2_exact"), col("f2_est"))
        .orderBy("lang")
    }),

    // ---- t-closeness over (segment × balance-band) classes against the
    // global nation distribution, per-mille-quantized TVD ------------------
    "ka03_t_closeness" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .withColumn("bal_band", expr(
          "(cast(round(c_acctbal * 100) as bigint) + 100000) div 200000"))
      DataQuality.tClosenessReport(cust, Seq("c_mktsegment", "bal_band"),
          "c_nationkey", tMilli = 250)
        .orderBy("c_mktsegment", "bal_band")
    }),

    // ---- reciprocal-rank fusion of a term-frequency run and a
    // shortest-doc run over the documents corpus, integer RRF scores -------
    "rrf01_rank_fusion" -> ((s, d) => {
      import s.implicits._
      val terms = Seq("table", "spark", "scan").toDF("query")
      val cand = Tables.documents(s, d).join(terms,
        expr("array_contains(split(text, ' '), query)"))
      val runs = cand.select(lit("tf").as("run"), col("query"), col("doc_id"),
          size(filter(split(col("text"), " "),
            w => w === col("query"))).cast("long").as("score"))
        .unionByName(cand.select(lit("short").as("run"), col("query"),
          col("doc_id"), (-col("n_chars")).cast("long").as("score")))
      Retrieval.reciprocalRankFusion(runs, "run", "query", "doc_id",
          "score", k = 10)
        .withColumn("fused_rank", col("fused_rank").cast("long"))
        .orderBy("query", "fused_rank")
    }),

    // ---- calibration / reliability report: order AGE (milli-scaled days
    // since order, over the dataset span) as the "probability finished"
    // score vs the actual F status — per-decile observed rate, claimed
    // rate, and gap, all integer fixed point ------------------------------
    "cal01_calibration_report" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val b = o.agg(min(col("o_orderdate")).as("_mind_"),
        max(col("o_orderdate")).as("_maxd_"))
      val scored = o.crossJoin(broadcast(b))
        .select((col("o_orderstatus") === "F").as("done"),
          expr("""(1000 * datediff(_maxd_, o_orderdate)) div
                  greatest(1L, datediff(_maxd_, _mind_))""").as("score_milli"))
      Analytics.calibrationReport(scored, "done", "score_milli",
          bucketMilli = 100)
        .orderBy("bucket")
    }),

    // ---- cumulative gains / lift deciles: rank customers by total spend,
    // label = frequent buyer (>= 10 orders) — tiering by the closed-form
    // sharded ntile, oracle = DuckDB's own ntile() (the rfm01 discipline) -
    "lift01_cumulative_gains" -> ((s, d) => {
      val per = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("freq"),
          sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("spend"))
      val base = per.select(col("o_custkey"), col("spend"),
        (col("freq") >= 10).as("y"))
      Analytics.liftGainsReport(base, "o_custkey", "spend", "y",
          buckets = 10)
        .orderBy("bucket")
    }),

    // ---- exact CART/GBDT best-split search: every distinct feature value
    // a candidate threshold, winner ranked by 1e-6 fixed-point weighted
    // children purity (affine in negative Gini) — no sampling, no sketch -
    "dt01_best_split" -> ((s, d) => {
      val per = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("freq"))
      val base = Tables.customer(s, d)
        .join(per, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"),
          expr("cast(round(c_acctbal * 100) as bigint)").as("bal_cents"),
          col("c_nationkey").cast("long").as("nation"),
          (col("freq") >= 10).as("y"))
      Tuning.bestSplits(base, Seq("bal_cents", "nation"), "y")
        .orderBy("feature")
    }),

    // ---- DELETE-capable incremental TOP-K view: the mv04 fixture with a
    // per-customer top-3-orders-by-price view — only delta-touched
    // customers re-rank, untouched view rows pass through by anti-join --
    "mv05_incremental_topk" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"))
      val base = orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val state = base.withColumn("m", lit(1L))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))
      val view = base.withColumn("_rn_", row_number().over(w))
        .where(col("_rn_") <= 3).drop("_rn_")
      val ins = orders.where(pmod(col("o_orderkey"), lit(3)) === 0)
        .withColumn("m", lit(1L))
      val del = base.where(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("m", lit(-1L))
      val (_, newView) = Temporal.applyTopKDeltaSigned(state, view,
        ins.unionByName(del), "o_custkey", "o_orderkey", "price_cents",
        "m", k = 3)
      newView.orderBy("o_custkey", "o_orderkey")
    }),

    // ---- funnel: signup → view → purchase, per-step completer counts ----
    "fu01_funnel_steps" -> ((s, d) => {
      val ft = Analytics.funnelTimes(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("signup", "view", "purchase"))
      ft.agg(count(col("t1")).as("c1"), count(col("t2")).as("c2"),
          count(col("t3")).as("c3"))
        .selectExpr("""stack(3, 1, 'signup', c1, 2, 'view', c2,
                       3, 'purchase', c3) as (step_idx, step_name, n_users)""")
        .orderBy("step_idx")
    }),

    // ---- WINDOWED funnel: fu01 bounded to a 3-day first-touch conversion
    // window — earliest-anchor greedy semantics, the window one extra
    // predicate per step, no new shuffles --------------------------------
    "fu02_window_funnel" -> ((s, d) => {
      val ft = Analytics.windowFunnelTimes(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("signup", "view", "purchase"),
        windowSeconds = 259200L)
      ft.agg(count(col("t1")).as("c1"), count(col("t2")).as("c2"),
          count(col("t3")).as("c3"))
        .selectExpr("""stack(3, 1, 'signup', c1, 2, 'view', c2,
                       3, 'purchase', c3) as (step_idx, step_name, n_users)""")
        .orderBy("step_idx")
    }),

    // ---- exact heavy hitters: words covering >= 1/400 of all token
    // occurrences, via per-partition Misra-Gries + exact candidate
    // recount — the bounded-shuffle form of GROUP BY ... HAVING ----------
    "hh01_heavy_hitter_words" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
      Analytics.heavyHitters(words, "word", num = 1L, den = 400L)
        .orderBy(desc("cnt"), col("word"))
    }),

    // ---- 2-D skyline: cheapest-earliest order frontier (minimize price,
    // minimize date) over a customer slice — sort-based plan, gated
    // against the quadratic NOT EXISTS definition ------------------------
    "sl01_skyline_orders" -> ((s, d) => {
      val orders = Tables.orders(s, d).where(col("o_custkey") < 300)
        .withColumn("o_price_milli",
          expr("cast(round(o_totalprice * 1000) as bigint)"))
      Analytics.skyline2d(orders, "o_price_milli", "o_orderdate")
        .select(col("o_orderkey"), col("o_price_milli"), col("o_orderdate"))
        .orderBy("o_orderkey")
    }),

    // ---- incremental materialized-aggregate maintenance: base state +
    // delta fold must be row-identical to a full rebuild over base ∪
    // delta (count/DECIMAL-sum associativity) — the oracle IS the full
    // rebuild, so the gate proves the incremental path exactly ------------
    "mv01_incremental_agg" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val base = orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val delta = orders.where(pmod(col("o_orderkey"), lit(3)) === 0)
      val state = Temporal.aggregateState(base, "o_custkey", "o_totalprice")
      Temporal.applyAggDelta(state, delta, "o_custkey", "o_totalprice")
        .select(col("o_custkey"), col("n_rows"),
          col("total").cast("double").as("total_price"))
        .orderBy("o_custkey")
    }),

    // ---- marketing attribution: each purchase credited to the user's
    // most recent preceding touch (click/view) via the as-of join, then
    // revenue rolled up per channel — the composition the as-of
    // primitive exists for; untouched purchases credit 'direct'.
    // Revenue is milli-quantized BEFORE the sum (integer, order-free) ----
    "at01_last_touch_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      val conv = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsOfJoin.backward(conv, touches, "user_id", "ts",
          payloadCols = Seq("event_type", "event_id"), rightTieCol = "event_id")
        .select(coalesce(col("asof.event_type"), lit("direct")).as("channel"),
          col("value"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum(expr("cast(round(value * 1000) as bigint)")).as("revenue_milli"))
        .orderBy("channel")
    }),

    // ---- count-min sketch: one-pass mergeable frequency summary; point
    // estimates for probe words (incl. an absent one) next to their exact
    // counts — the overestimate-only guarantee surfaced as a column ------
    "cm01_countmin_words" -> ((s, d) => {
      import s.implicits._
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
      // width 16 < the 31-word vocabulary: collisions are guaranteed, so
      // the overestimate property is exercised for real, not vacuously
      val sketch = Sketch.countMinBuild(words, "word", depth = 4, width = 16)
      val probes = Seq("table", "a", "spark", "value", "flink").toDF("word")
      val exact = words.groupBy("word").agg(count(lit(1)).as("true_cnt"))
      Sketch.countMinEstimate(sketch, probes, "word", depth = 4, width = 16)
        .join(exact, Seq("word"), "left")
        .select(col("word"), col("est_cnt"),
          coalesce(col("true_cnt"), lit(0L)).as("true_cnt"),
          (col("est_cnt") >= coalesce(col("true_cnt"), lit(0L)))
            .as("overestimate_ok"))
        .orderBy("word")
    }),

    // ---- exact phrase search over positional postings: anchor-alignment
    // join, constant depth in phrase length; overlapping matches counted
    // ("a a a"), an out-of-vocabulary phrase yields no rows ---------------
    "ph01_phrase_search" -> ((s, d) => {
      import s.implicits._
      val phrases = Seq((1, "fast table"), (2, "table part"),
        (3, "scan scan"), (4, "a a a"), (5, "spark flink engine"))
        .toDF("phrase_id", "phrase")
      Retrieval.phraseSearch(Tables.documents(s, d), "doc_id", "text", phrases)
        .orderBy("phrase_id", "doc_id")
    }),

    // ---- retention: weekly cohorts over the event log -------------------
    "rt01_retention_cohorts" -> ((s, d) =>
      Analytics.retentionCohorts(Tables.events(s, d), "user_id", "ts",
          periodSeconds = 604800L)
        .orderBy("cohort_period", "period_offset")),

    // ---- interval merge: coalesced purchase-anchored windows ------------
    // (variable lengths so overlap/touch/gap cases all occur)
    "im01_merge_intervals" -> ((s, d) => {
      val iv = Tables.events(s, d).where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts").as("s_ts"),
          expr("timestampadd(SECOND, cast(60 + pmod(event_id, 7200) as int), ts)")
            .as("e_ts"))
      Analytics.mergeIntervals(iv, "user_id", "s_ts", "e_ts", "event_id")
        .orderBy("user_id", "merged_seq")
    }),

    // ---- exact per-group percentiles (integer rank selection) -----------
    "qt01_group_quantiles" -> ((s, d) =>
      Analytics.groupQuantiles(Tables.lineitem(s, d),
          "l_returnflag", "l_quantity", Seq(25, 50, 75, 90))
        .select(col("l_returnflag"), col("pct"),
          col("l_quantity").cast("double").as("value"))
        .orderBy("l_returnflag", "pct")),

    // ---- fixed-bin histogram over order totals --------------------------
    "hg01_value_histogram" -> ((s, d) =>
      Analytics.histogram(Tables.orders(s, d), "o_totalprice",
          lo = 0.0, hi = 600000.0, nBins = 20)
        .orderBy("bin")),

    // ---- BM25 lexical top-k (1e-6 fixed-point scores) -------------------
    "bm01_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark"), (1L, "join"), (1L, "window"),
        (2L, "hash"), (2L, "table"), (2L, "scan"),
        (3L, "customer"), (3L, "order"), (3L, "value"))
        .toDF("query_id", "term")
      Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text", qs, k = 5)
        .select(col("query_id"), col("doc_id"),
          col("rank").cast(IntegerType).as("rank"), col("score_scaled"))
        .orderBy("query_id", "rank")
    }),

    // ---- MMR diversified rerank: BM25 top-8 candidates reranked to 4
    // by λ·relevance − (1−λ)·max-Jaccard-to-selected (λ = 7/10 as a
    // rational — no 1−0.7 float literal to diverge) ----------------------
    "mmr01_diversified_topk" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark"), (1L, "join"), (1L, "window"),
        (2L, "hash"), (2L, "table"), (2L, "scan"),
        (3L, "customer"), (3L, "order"), (3L, "value"))
        .toDF("query_id", "term")
      val docs = Tables.documents(s, d)
      val cands = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 8)
        .select(col("query_id"), col("doc_id"), col("score_scaled"))
      Retrieval.mmrRerank(cands, "doc_id", "score_scaled",
          docs, "doc_id", "text", k = 4)
        .select(col("query_id"), col("doc_id"),
          col("rank").cast(IntegerType).as("rank"), col("score_scaled"))
        .orderBy("query_id", "rank")
    }),

    // ---- exact-sum Pearson corr + least-squares line --------------------
    // small-magnitude columns (quantity, discount) keep every decimal sum
    // under 2^53 so the final double casts are exact — see Analytics doc
    "lr01_linear_fit" -> ((s, d) =>
      Analytics.linearFit(Tables.lineitem(s, d),
          "l_returnflag", "l_quantity", "l_discount")
        .orderBy("l_returnflag")),

    // ---- KMV distinct sketch per event type + merged 'ALL' row ----------
    // (merge demonstrated by unioning inputs — the sketch of a union IS
    // the k-min of the union); exact countDistinct alongside for accuracy
    "kv01_kmv_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"))
      val base = ev.unionByName(
        ev.select(lit("ALL").as("event_type"), col("event_id")))
      val exact = base.groupBy("event_type")
        .agg(countDistinct(col("event_id")).as("n_exact"))
      Sketch.kmvDistinct(base, "event_type", "event_id", k = 64)
        .join(exact, "event_type")
        .select(col("event_type").as("grp"), col("n_exact"),
          col("n_kept"), col("estimate"))
        .orderBy("grp")
    }),

    // ---- HyperLogLog distinct (p=6, m=64): per-type event_id counts
    // exercise the raw harmonic path (~2000 ≫ 2.5m=160), the USERS row
    // (150 distinct user_ids) the small-range linear-counting branch —
    // both branches replayed by the oracle ------------------------------
    "hl01_hll_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("event_type").as("grp"),
          col("event_id").as("k"))
        .unionByName(ev.select(lit("USERS").as("grp"),
          col("user_id").as("k")))
      val exact = base.groupBy("grp")
        .agg(countDistinct(col("k")).as("n_exact"))
      Sketch.hllEstimate(
          Sketch.hllRegisters(base, Seq("grp"), "k", p = 6), Seq("grp"), p = 6)
        .join(exact, "grp")
        .select(col("grp"), col("n_exact"), col("n_zero_registers"),
          col("est_distinct"))
        .orderBy("grp")
    }),

    // ---- mergeable decimal quantile sketch: order prices bucketed by
    // (decimal width, first 3 digits), quantiles = bucket lower bounds at
    // the integer ceil-rank — every step string/integer, replayed exactly
    "qs01_quantile_sketch" -> ((s, d) => {
      val v = Tables.orders(s, d)
        .select(expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val sk = Sketch.decimalQuantileSketch(v, "cents", sigDigits = 3)
      Sketch.sketchQuantiles(sk, Seq(10L, 250L, 500L, 750L, 900L, 990L))
        .orderBy("q_milli")
    }),

    // ---- sketch MERGE gate: per-parity shard sketches summed into one
    // — the quantiles of the merge must equal the whole-data oracle,
    // proving bucket-count addition IS the union sketch ------------------
    "qs02_sketch_merge" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      def shard(r: Int) = Sketch.decimalQuantileSketch(
        o.where(pmod(col("o_orderkey"), lit(2)) === r).select("cents"),
        "cents", sigDigits = 3)
      Sketch.sketchQuantiles(
          Sketch.mergeQuantileSketches(Seq(shard(0), shard(1))),
          Seq(250L, 500L, 750L))
        .orderBy("q_milli")
    }),

    // ---- per-group sketch quantiles: price quantiles per order status
    // via the key-partitioned cumulative walk — the per-domain shape the
    // global qs01 sketch takes at scale --------------------------------
    "qs03_group_quantile_sketch" -> ((s, d) => {
      val v = Tables.orders(s, d).select(col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      Sketch.sketchQuantilesBy(
          Sketch.decimalQuantileSketchBy(v, "o_orderstatus", "cents"),
          "o_orderstatus", Seq(250L, 500L, 750L, 990L))
        .orderBy("o_orderstatus", "q_milli")
    }),

    // ---- HLL register MERGE as a time series: users-to-date per day by
    // prefix-max over daily register tables — the cumulative-distinct
    // metric that exact DISTINCT recomputes over a growing prefix, the
    // sketch answers from m rows per day ---------------------------------
    "hl02_hll_users_to_date" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("day", expr("cast(ts as bigint) div 86400"))
      val regs = Sketch.hllRegisters(ev, Seq("day"), "user_id", p = 6)
      // prefix merge: day D's register table = max over days ≤ D. Days
      // are calendar-bounded and registers are m=64 rows/day, so the
      // ≤-join is a days×(days·m) mini-relation — never data-sized
      val days = regs.select(col("day").as("_d_")).distinct()
      val cum = days.join(regs, col("day") <= col("_d_"))
        .groupBy(col("_d_").as("day2"), col("register"))
        .agg(max(col("rho")).as("rho"))
        .withColumnRenamed("day2", "day")
      Sketch.hllEstimate(cum, Seq("day"), p = 6)
        .orderBy("day")
    }),

    // ---- chi-square independence: order status × priority ---------------
    "ct01_chi_square" -> ((s, d) =>
      Analytics.chiSquare(Tables.orders(s, d),
          "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderstatus", "o_orderpriority")),

    // ---- per-nation account-balance outliers (|z| > 1.6; acctbal is
    // ~uniform so max |z| ≈ √3 — 2.0 would select nothing) ----------------
    "az01_zscore_outliers" -> ((s, d) =>
      Analytics.zscoreOutliers(
          Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal"),
          "c_nationkey", "c_acctbal", threshold = 1.6)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          col("z"))
        .orderBy("c_custkey")),

    // ---- 7-day trailing moving average of daily revenue -----------------
    "ma01_moving_average" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("_dsum_"))
      Analytics.movingAverage(daily, Seq.empty, "day", "_dsum_", nRows = 7)
        .select(col("day"), col("_dsum_").cast("double").as("revenue"),
          col("mov_avg"))
        .orderBy("day")
    }),

    // ---- item-item co-occurrence: parts sharing an order ----------------
    "rc01_copurchase_topk" -> ((s, d) =>
      Analytics.coPurchaseTopK(
          Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
          "l_orderkey", "l_partkey", k = 3)
        .select(col("item"), col("co_item"), col("n_baskets"),
          col("rank").cast(IntegerType).as("rank"))
        .orderBy("item", "rank")),

    // ---- first-order transition matrix over user event sequences --------
    "tm01_event_transitions" -> ((s, d) =>
      Analytics.transitionMatrix(Tables.events(s, d),
          "user_id", "ts", "event_id", "event_type")
        .orderBy("from_state", "to_state")),

    // ---- declarative data-quality report (one check designed to fire:
    // top-tier orders exceed 500k, so n_violations > 0 is exercised) ------
    "dq01_quality_report" -> ((s, d) =>
      DataQuality.report(Tables.orders(s, d),
          rowChecks = Seq(
            "totalprice_nonneg" -> (col("o_totalprice") >= 0),
            "totalprice_under_500k" -> (col("o_totalprice") < 500000.0),
            "orderdate_not_null" -> col("o_orderdate").isNotNull,
            "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P")),
          uniqueKeys = Seq("orderkey_unique" -> Seq("o_orderkey")),
          refChecks = Seq(("custkey_in_customer", "o_custkey",
            Tables.customer(s, d).select("c_custkey"))))
        .orderBy("check")),

    // ---- CDC latest-wins snapshot: event log as a change feed, 'error'
    // as the tombstone op ------------------------------------------------
    "cd01_cdc_latest_state" -> ((s, d) =>
      Temporal.latestState(
          Tables.events(s, d)
            .select("user_id", "ts", "event_id", "event_type", "value"),
          "user_id", "ts", "event_id", "event_type", deleteOp = "error")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
        .orderBy("user_id"))
      ,

    // ---- KMV set algebra: customer-set overlap between order
    // priorities (each ~1100 of 1500 customers → Jaccard ≈ 0.5-0.7,
    // so union/intersect/Jaccard paths are all non-trivial) ---------------
    "kv02_kmv_setops" -> ((s, d) =>
      Sketch.kmvSetOps(Tables.orders(s, d),
          "o_orderpriority", "o_custkey", k = 128)
        .orderBy("g_a", "g_b")),

    // ---- calendar gap fill + forward fill over sparse daily revenue
    // ('P'-status orders are ~1/15 of days → real gaps to fill) -----------
    "gf01_gap_fill_ffill" -> ((s, d) => {
      val daily = Tables.orders(s, d).where(col("o_orderstatus") === "P")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("_rev_"))
      Analytics.gapFillForward(daily, "day", "_rev_")
        .select(col("day"), col("_rev_").cast("double").as("revenue"),
          col("filled").cast("double").as("filled"), col("is_gap"))
        .orderBy("day")
    }),

    // ---- robust outliers: MAD (50% breakdown) per order priority over
    // milli-quantized price — float-free; mult=2 because totalprice is a
    // lineitem sum (gamma-ish right tail: 2×MAD fires, 3× selects zero) --
    "az02_mad_outliers" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderpriority"),
        col("o_orderkey"),
        expr("cast(round(o_totalprice * 1000) as bigint)").as("price_milli"))
      Analytics.madOutliers(o, "o_orderpriority", "o_orderkey",
          "price_milli", mult = 2)
        .orderBy("o_orderkey")
    }),

    // ---- quantile normalization: per-source doc lengths mapped onto
    // the global length distribution by integer rank — batch-effect
    // correction before any cross-source threshold --------------------------
    "qn01_quantile_normalize" -> ((s, d) =>
      Analytics.quantileNormalize(
          Tables.documents(s, d).select("source", "doc_id", "n_chars"),
          "source", "doc_id", "n_chars")
        .orderBy("doc_id")),

    // ---- anomaly days: weekday-profile residuals, milli-quantized, cut
    // by MAD — the composition the two primitives exist for (seasonality
    // removed BEFORE the robust cut, so weekends aren't "anomalies") -----
    "ad01_anomalous_days" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
      val resid = Analytics.weekdayProfile(daily, "day", "revenue")
        .select(col("day"),
          expr("cast(round(residual * 1000) as bigint)").as("resid_milli"))
        .withColumn("_g_", lit("all"))
      Analytics.madOutliers(resid, "_g_", "day", "resid_milli", mult = 4)
        .select(col("day"), col("resid_milli"), col("med"), col("mad"),
          col("dev"))
        .orderBy("day")
    }),

    // ---- drift monitoring: PSI of the order-price distribution, first
    // half of the date range vs second — add-one smoothed fixed bins,
    // 1e-9-scaled integer statistic (the chi-square discipline) ----------
    "ps01_psi_drift" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_totalprice"),
        col("o_orderdate").cast("date").as("_dt_"))
      val cut = to_date(lit("1996-07-01"))
      Analytics.psiDrift(
          o.where(col("_dt_") < cut).select("o_totalprice"),
          o.where(col("_dt_") >= cut).select("o_totalprice"),
          "o_totalprice", lo = 0.0, hi = 600000.0, nBins = 10)
        .orderBy("bin")
    }),

    // ---- ops: join-key skew profile over the corpus word key — the
    // report that picks between salted and hot/cold join plans; integer
    // permille and ceil-salt so no float threshold can straddle ----------
    "sk02_skew_profile" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), "\\s+")).as("word"))
        .where(col("word") =!= "")
      graft.operators.Skew.profileKeys(words, "word", topK = 10)
    }),

    // ---- robust treatment: winsorize account balances per market
    // segment at the exact [10, 90] rank percentiles — all integer ------
    "wz01_winsorize_balances" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_mktsegment"),
        col("c_custkey"),
        expr("cast(round(c_acctbal * 1000) as bigint)").as("bal_milli"))
      Analytics.winsorize(c, "c_mktsegment", "c_custkey", "bal_milli",
          loPct = 10, hiPct = 90)
        .orderBy("c_custkey")
    }),

    // ---- seasonality: daily revenue vs its weekday profile — the
    // engine-neutral epoch-day dow, exact decimal means -------------------
    "sz01_weekday_profile" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
      Analytics.weekdayProfile(daily, "day", "revenue")
        .orderBy("day")
    }),

    // ---- multiple regression: order price ~ (total quantity, item
    // count) per priority — exact decimal moments, Cramer's rule as a
    // fixed double program; R² included ----------------------------------
    "lr02_linear_fit2" -> ((s, d) => {
      val feats = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
          count(lit(1)).as("n_items"))
      val joined = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .join(feats, col("o_orderkey") === col("l_orderkey"))
      Analytics.linearFit2(joined, "o_orderpriority",
          "sum_qty", "n_items", "o_totalprice")
        .orderBy("o_orderpriority")
    }),

    // ---- snapshot diff: two synthetic versions of the orders table →
    // added/removed/changed rows in one full-outer join; %5/%7 key
    // filters give real adds AND removes, %3 bumps prices for changes ----
    "df01_snapshot_diff" -> ((s, d) => {
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 1000) as bigint)").as("price_milli"),
        col("o_orderstatus"))
      val oldS = base.where(pmod(col("o_orderkey"), lit(5)) =!= 0)
      val newS = base.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("price_milli",
          when(pmod(col("o_orderkey"), lit(3)) === 0,
            col("price_milli") + 500L).otherwise(col("price_milli")))
      Temporal.snapshotDiff(oldS, newS, "o_orderkey",
          Seq("price_milli", "o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // ---- EWMA smoothing (α = 1/2, horizon 16) of each user's event
    // values — every term is an exact long over a power of two, so the
    // double replays bit-identically in any engine --------------------------
    "ew01_ewma_values" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        expr("cast(round(value * 1000) as bigint)").as("val_milli"))
      Analytics.ewmaSmooth(ev, "user_id", Seq("ts", "event_id"),
          "val_milli", "ewma_milli")
        .select(col("user_id"), col("event_id"), col("val_milli"),
          col("ewma_milli"))
        .orderBy("user_id", "event_id")
    }),

    // ---- inter-annotator agreement: Cohen's kappa per language between
    // two heuristic length labelers (char-count buckets vs sentence-count
    // buckets — correlated but far from identical, so kappa is the
    // signal, not a degenerate 1.0) --------------------------------------
    "ia01_cohens_kappa" -> ((s, d) => {
      val labeled = Tables.documents(s, d).select(col("lang"),
        when(col("n_chars") < 220, "short")
          .when(col("n_chars") < 420, "med").otherwise("long").as("rater_a"),
        {
          val periods = length(col("text")) -
            length(replace(col("text"), lit("."), lit("")))
          when(periods < 3, "short").when(periods < 6, "med")
            .otherwise("long").as("rater_b")
        })
      // kappa itself is one division of exact integers — correctly
      // rounded, so it ships unrounded and still hash-matches
      Analytics.cohensKappa(labeled, "lang", "rater_a", "rater_b")
        .orderBy("lang")
    }),

    // ---- EXACT global percentiles WITHOUT a global sort: histogram-
    // refinement selection — each pass is one tiny count aggregate, the
    // driver narrows each target's value interval ≥ nBins× (16384 by
    // default) per pass; the oracle is the sorted-rank definition the
    // passes must equal --------------------------------------------------
    "qd01_exact_quantiles" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        expr("cast(round(l_extendedprice * 1000) as bigint)")
          .as("price_milli"))
      Analytics.exactQuantilesBisect(li, "price_milli", Seq(1, 25, 50, 75, 99))
        .orderBy("pct")
    }),

    // ---- TOKEN-WEIGHTED document-length percentiles: at what length
    // does p% of the token MASS live — weighted bisection, no sort ------
    "qd03_weighted_quantiles" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
        col("n_chars").as("doc_len"),
        size(split(col("text"), " ")).as("n_tokens"))
      Analytics.weightedQuantilesBisect(docs, "doc_len", "n_tokens",
          Seq(10, 50, 90))
        .orderBy("pct")
    }),

    // ---- point-in-time labels: for every view, did the user purchase
    // within 30 days — the leakage-safe supervised-target builder
    // (same-instant outcomes excluded by construction) -------------------
    "tl01_timetravel_labels" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.Temporal.futureOutcomeLabels(
          ev.where(col("event_type") === "view"),
          ev.where(col("event_type") === "purchase"),
          "user_id", "ts", "event_id", horizonSeconds = 2592000L)
        .orderBy("event_id")
    }),

    // ---- Benford first-digit audit over order totals (milli-quantized
    // so the leading digit comes from an exact integer string) -----------
    "bd01_benford_digits" -> ((s, d) => {
      val v = Tables.orders(s, d).select(
        expr("cast(round(o_totalprice * 1000) as bigint)").as("price_milli"))
      graft.operators.DataQuality.benfordReport(v, "price_milli")
        .orderBy("digit")
    }),

    // ---- per-GROUP exact percentiles via the SAME bisection passes,
    // all (group, pct) targets sharing each histogram aggregate — the
    // scale path for qt01 when single groups outgrow a window sort ------
    "qd02_group_quantiles_bisect" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 1000) as bigint)")
          .as("price_milli"))
      Analytics.groupQuantilesBisect(li, "l_returnflag", "price_milli",
          Seq(25, 50, 75))
        .orderBy("l_returnflag", "pct")
    }),

    // ---- A/B test: Welch's unequal-variance t per order priority, arms =
    // open vs fulfilled orders — exact DECIMAL moments, one fixed double
    // program (az01/lr02 conventions, incl. the VARCHAR-routed oracle
    // cast) ---------------------------------------------------------------
    "ab01_welch_ttest" -> ((s, d) =>
      Analytics.welchTTest(Tables.orders(s, d), "o_orderpriority",
          "o_orderstatus", "o_totalprice", armA = "O", armB = "F")
        .orderBy("o_orderpriority")),

    // ---- change-point detection: two-sided integer CUSUM over each
    // priority's daily revenue, target = the integer per-key mean, both
    // sides from one window via the prefix-sum/prefix-extrema identity ----
    "cs01_cusum_drift" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderdate"))
        .agg(sum(expr("cast(round(o_totalprice * 1000) as bigint)"))
          .as("rev_milli"))
      val tgt = daily.groupBy("o_orderpriority")
        .agg(expr("sum(rev_milli) div count(1)").as("_tgt_"))
      Analytics.cusumAlarms(daily.join(tgt, "o_orderpriority"),
          "o_orderpriority", Seq("o_orderdate"), "rev_milli",
          col("_tgt_"), col("_tgt_") * 8L)
        .select(col("o_orderpriority"), col("o_orderdate"), col("rev_milli"),
          col("cusum_hi"), col("cusum_lo"), col("alarm_hi"), col("alarm_lo"))
        .orderBy("o_orderpriority", "o_orderdate")
    }),

    // ---- record linkage: sorted-neighborhood blocking over part names —
    // rank-bucket equi-join (never a rank-range theta join), fan-in 3w
    // per bucket regardless of key skew ----------------------------------
    "rl01_sorted_neighborhood" -> ((s, d) => {
      graft.operators.Linkage.sortedNeighborhoodPairs(
          Tables.part(s, d).select(col("p_partkey"), col("p_name")),
          "p_partkey", "p_name", w = 5)
        .orderBy("a_id", "b_id")
    }),

    // ---- entity-resolution CAPSTONE: a roster dirtied with
    // deterministic one-character deletions -> sorted-neighborhood
    // blocking -> Levenshtein scoring -> connected components -> golden
    // records (component = min id by CC construction, so the
    // representative lookup is one equi-join) ----------------------------
    "er01_entity_resolution" -> ((s, d) => {
      // p_partkey < 2000: at sf0.1 the name space is dense enough that
      // lev-2 neighbor chains weld ~750-node components, and the
      // oracle's transitive closure is quadratic in component size —
      // bound the roster so the replay stays tractable (pk03 precedent)
      val base = Tables.part(s, d).where(col("p_partkey") < 2000)
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val dirty = base.where(pmod(col("id"), lit(3)) === 0)
        .withColumn("_p_", (lit(1) + pmod(col("id"), lit(8))).cast("int"))
        .select((col("id") + 10000000L).as("id"),
          concat(expr("substring(name, 1, _p_)"),
            expr("substring(name, _p_ + 2, 10000)")).as("name"))
      val roster = base.unionByName(dirty)
      val matches = graft.operators.Linkage
        .sortedNeighborhoodPairs(roster, "id", "name", w = 4)
        .where(levenshtein(col("a_key"), col("b_key")) <= 2)
      val cc = graft.operators.Dedup
        .connectedComponents(matches, "a_id", "b_id")
      cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .join(roster.select(col("id").as("component"),
          col("name").as("rep_name")), "component")
        .orderBy("component")
    }),

    // ---- multi-pass blocking: name pass ∪ reversed-name pass, pairs
    // canonicalized, per-pair agreement count --------------------------
    "rl02_multipass_blocking" -> ((s, d) => {
      val parts = Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"),
          reverse(col("p_name")).as("p_name_rev"))
      graft.operators.Linkage.multiPassPairs(parts, "p_partkey",
          Seq("p_name", "p_name_rev"), w = 4)
        .orderBy("id_lo", "id_hi")
    }),

    // ---- forecasting: seasonal-naive backtest with MASE — weekday
    // profile from the train window forecasts the test window, scored
    // against same-day-last-week; integer error sums, one final division -
    "fc01_seasonal_backtest" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("cast(round(o_totalprice * 1000) as bigint)"))
          .as("rev_milli"))
      Analytics.seasonalNaiveBacktest(daily, "day", "rev_milli",
          cutoff = "2000-01-01")
        .orderBy("dow")
    }),

    // ---- survival: Kaplan-Meier time-to-convert over the event log —
    // signup cohort, purchase = event, last activity censors; survival
    // carried as an order-free fixed-point log sum -----------------------
    "km01_survival" -> ((s, d) => {
      val f = Tables.events(s, d).groupBy("user_id").agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tc"),
        max(col("ts")).as("tlast"))
      val subjects = f.where(col("t0").isNotNull).select(
        when(col("tc").isNotNull && col("tc") >= col("t0"),
          datediff(to_date(col("tc")), to_date(col("t0"))))
          .otherwise(datediff(to_date(col("tlast")), to_date(col("t0"))))
          .cast("long").as("dur"),
        (col("tc").isNotNull && col("tc") >= col("t0")).as("converted"))
      Analytics.kaplanMeier(subjects, "dur", "converted")
        .orderBy("t")
    }),

    // ---- incremental JOIN maintenance: the three delta terms (ΔA⋈B,
    // A⋈ΔB, ΔA⋈ΔB) folded into the stale view must equal a full rebuild
    // over (A∪ΔA)⋈(B∪ΔB) — the oracle IS the rebuild ---------------------
    "mv02_incremental_join" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        expr("cast(round(l_quantity * 1000) as bigint)").as("qty_milli"))
      val baseA = orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val deltaA = orders.where(pmod(col("o_orderkey"), lit(3)) === 0)
      val baseB = li.where(pmod(col("l_linenumber"), lit(2)) =!= 0)
      val deltaB = li.where(pmod(col("l_linenumber"), lit(2)) === 0)
      val view = baseA.join(baseB, "o_orderkey")
      graft.operators.Temporal.applyJoinDelta(view, baseA, baseB,
          deltaA, deltaB, "o_orderkey")
        .orderBy("o_orderkey", "l_linenumber", "qty_milli")
    }),

    // ---- contribution analysis: which priority drove the 1999-to-2000
    // revenue change — exact integer decomposition, double shares -------
    "ca01_contribution_analysis" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderpriority"),
        expr("cast(round(o_totalprice * 1000) as bigint)").as("rev_milli"),
        to_date(col("o_orderdate")).as("day"))
      Analytics.contributionAnalysis(o, "o_orderpriority", "rev_milli",
          inBefore = col("day").between(lit("1999-01-01"), lit("1999-12-31")),
          inAfter = col("day").between(lit("2000-01-01"), lit("2000-12-31")))
        .select(col("o_orderpriority"), col("before"), col("after"),
          col("delta"), col("share_of_delta"),
          col("rank").cast(IntegerType).as("rank"))
        .orderBy("rank")
    }),

    // ---- boolean AND retrieval: docs containing EVERY query term — the
    // relational posting-list intersection --------------------------------
    "bm02_boolean_and" -> ((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "spark"), (1L, "table"),
        (2L, "hash"), (2L, "join"), (2L, "scan"),
        (3L, "customer"), (3L, "zzz_absent"))
        .toDF("query_id", "term")
      Retrieval.booleanAnd(Tables.documents(s, d), "doc_id", "text", qs)
        .orderBy("query_id", "doc_id")
    }),

    // ---- DELETE-capable join-view maintenance: signed multiplicities
    // (a DELETE is a -1 insert), same three-term rule; a key deleted on
    // one side must vanish from the view — the oracle is the rebuild
    // over the post-delta state ------------------------------------------
    "mv03_incremental_join_deletes" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("m", lit(1L))
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        expr("cast(round(l_quantity * 1000) as bigint)").as("qty_milli"))
        .withColumn("m", lit(1L))
      // deltas: INSERT the %3==0 orders late, DELETE the %7==0 lineitems
      val baseA = orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val deltaA = orders.where(pmod(col("o_orderkey"), lit(3)) === 0)
      val deltaB = li.where(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("m", lit(-1L))
      val view = baseA.join(li.withColumnRenamed("m", "mb"), "o_orderkey")
        .withColumn("m", col("m") * col("mb")).drop("mb")
      graft.operators.Temporal.applyJoinDeltaSigned(view, baseA, li,
          deltaA, deltaB, "o_orderkey", "m")
        .orderBy("o_orderkey", "l_linenumber", "qty_milli")
    }),

    // ---- multi-touch LINEAR attribution: every purchase's milli-revenue
    // splits equally across the user's touches in a 7-day lookback,
    // remainder to the most recent touches (largest-remainder — credit
    // exactly conserved, pure integer); untouched purchases -> 'direct' --
    "at02_linear_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val conv = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("cast(round(value * 1000) as bigint)").as("rev_milli"))
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      Analytics.linearAttribution(conv, touches, "user_id", "ts",
          "event_type", "rev_milli", convIdCol = "event_id",
          touchTieCol = "event_id", windowSeconds = 7L * 24 * 3600)
        .orderBy("channel")
    }),

    // ---- position-based (U-shaped) attribution: 40% first touch, 40%
    // last, 20% across middles — weighted largest remainder, credit
    // exactly conserved in integer milli (the at01/at02 family) ----------
    "at03_position_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val conv = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("cast(round(value * 1000) as bigint)").as("rev_milli"))
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      Analytics.positionAttribution(conv, touches, "user_id", "ts",
          "event_type", "rev_milli", convIdCol = "event_id",
          touchTieCol = "event_id", windowSeconds = 7L * 24 * 3600)
        .orderBy("channel")
    }),

    // ---- DELETE-capable aggregate-view maintenance: signed deltas fold
    // into the (count, sum) state — inserts land late, deletes retract
    // base rows, fully-retracted keys vanish; the oracle is the rebuild
    // over the post-delete base (the mv03 pattern for the agg twin) -------
    "mv04_incremental_agg_deletes" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val base = orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val state = Temporal.aggregateState(base, "o_custkey", "o_totalprice")
      val ins = orders.where(pmod(col("o_orderkey"), lit(3)) === 0)
        .withColumn("m", lit(1L))
      val del = base.where(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("m", lit(-1L))
      Temporal.applyAggDeltaSigned(state, ins.unionByName(del),
          "o_custkey", "o_totalprice", "m")
        .select(col("o_custkey"), col("n_rows"),
          col("total").cast("double").as("total_price"))
        .orderBy("o_custkey")
    }),

    // ---- exact 7-day rolling active users: dedupe-then-explode plan,
    // one distinct-count per observed day ---------------------------------
    "wd01_window_distinct" -> ((s, d) =>
      Analytics.slidingDistinct(Tables.events(s, d), "ts", "user_id",
          windowDays = 7)
        .withColumnRenamed("ts", "day")
        .orderBy("day")),

    // ---- two-sample Kolmogorov-Smirnov: exact sup-distance between the
    // O and F price distributions — integer numerator until one final
    // division --------------------------------------------------------------
    "ks01_ks_statistic" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def arm(st: String) = o.where(col("o_orderstatus") === st).select(
        expr("cast(round(o_totalprice * 1000) as bigint)").as("price_milli"))
      graft.operators.Temporal.ksStatistic(arm("O"), arm("F"), "price_milli")
    }),

    // ---- randomization test: assumption-free p-value for the O-vs-F
    // mean gap — 64 deterministic mix64 re-assignments, extremeness by
    // DECIMAL cross-multiplication (no float ever decides a count) -------
    "ab02_randomization_test" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"),
        expr("cast(round(o_totalprice * 1000) as bigint)").as("price_milli"))
      Analytics.randomizationTest(o, "o_orderkey", "o_orderstatus",
        "price_milli", armA = "O", armB = "F", nPerms = 64)
    }),

    // ---- privacy: k-anonymity / l-diversity over (nation, segment)
    // quasi-identifiers with a bucketed balance as the sensitive value ----
    "ka01_k_anonymity" -> ((s, d) => {
      val c = Tables.customer(s, d).withColumn("acctbal_k",
        floor(col("c_acctbal") / 1000).cast("long"))
      graft.operators.DataQuality.kAnonymityReport(c,
          Seq("c_nationkey", "c_mktsegment"), "acctbal_k", k = 10L, l = 4L)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // ---- recursive (c,l)-diversity: the dominance-aware privacy check
    // ka01's distinct-count misses — top value must not exceed c× the
    // l-th-onward tail; c = 1/2 as the exact rational (1,2) -------------
    "ka02_recursive_ldiversity" -> ((s, d) => {
      val c = Tables.customer(s, d).withColumn("acctbal_k",
        floor(col("c_acctbal") / 1000).cast("long"))
      graft.operators.DataQuality.recursiveLDiversity(c,
          Seq("c_nationkey", "c_mktsegment"), "acctbal_k", l = 3,
          cNum = 1, cDen = 2)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // ---- per-nation Gini of order revenue: the concentration measure —
    // exact integer rank-weighted sums, one final division --------------
    "gn01_gini_concentration" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        expr("cast(round(o_totalprice * 1000) as bigint)").as("rev_milli"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      Analytics.giniCoefficient(
          o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
          "c_nationkey", "rev_milli")
        .orderBy("c_nationkey")
    }),

    // ---- difference-in-differences: purchase value, treat = even
    // users, post = second half of the calendar (integer midpoint) ------
    "did01_diff_in_diff" -> ((s, d) => {
      val ev = Tables.events(s, d).where(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("cast(ts as bigint) div 86400").as("day"),
          expr("cast(round(value * 1000) as bigint)").as("v_milli"))
      val bounds = ev.agg(min("day").as("_lo_"), max("day").as("_hi_"))
      Analytics.diffInDiffs(
        ev.crossJoin(broadcast(bounds))
          .withColumn("treat", pmod(col("user_id"), lit(2)) === 0)
          .withColumn("post",
            col("day") >= expr("_lo_ + (_hi_ - _lo_ + 1) div 2")),
        "treat", "post", "v_milli")
    }),

    // ---- CUPED adjusted means: pre-half activity count as covariate,
    // post-half purchase revenue as metric, arms by user parity ---------
    "ab04_cuped" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("cast(ts as bigint) div 86400").as("day"),
          expr("cast(round(value * 1000) as bigint)").as("v_milli"))
      val bounds = ev.agg(min("day").as("_lo_"), max("day").as("_hi_"))
      val users = ev.crossJoin(broadcast(bounds))
        .withColumn("_post_",
          col("day") >= expr("_lo_ + (_hi_ - _lo_ + 1) div 2"))
        .groupBy(col("user_id"))
        .agg(
          sum(when(!col("_post_"), 1L).otherwise(0L)).as("pre_events"),
          sum(when(col("_post_") && col("event_type") === "purchase",
            col("v_milli")).otherwise(0L)).as("post_rev"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B"))
      Analytics.cupedAdjust(users, "arm", "pre_events", "post_rev")
        .orderBy("arm")
    }),

    // ---- MARKOV removal-effect attribution: the model-based member of
    // the at01–at03 family — channel credit = exact-rational drop in
    // P(conv) when the channel's state is knocked out of the journey
    // chain (Cramer determinants over integer transition counts) --------
    "at04_markov_attribution" -> ((s, d) =>
      Analytics.markovAttribution(Tables.events(s, d),
          "user_id", "ts", "event_id", "event_type", "purchase",
          Seq("click", "view"), "cast(round(value * 1000) as bigint)")
        .orderBy("channel")),

    // ---- Theil–Sen robust trend: per-nation monthly revenue slope as
    // the median pairwise slope — the outlier-proof companion to lr01 ----
    "th01_theilsen_trend" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"),
          (year(col("o_orderdate").cast("date")) * 12 +
            month(col("o_orderdate").cast("date")) - 1).as("m"))
        .agg(sum(expr("cast(round(o_totalprice * 1000) as bigint)"))
          .as("rev_milli"))
      Analytics.theilSenSlope(monthly, "c_nationkey", "m", "rev_milli")
        .orderBy("c_nationkey")
    }),

    // ---- ACF of daily revenue, lags 1..7: exact integer centered sums
    // (c_t = n·x_t − S), one division per lag ----------------------------
    "ac01_autocorrelation" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))).as("day"))
        .agg(sum(expr("cast(round(o_totalprice * 1000) as bigint)"))
          .as("rev_milli"))
      Analytics.autocorrelation(daily, "day", "rev_milli", maxLag = 7)
        .orderBy("lag")
    }),

    // ---- Mann–Whitney U: click vs view value distributions — the
    // nonparametric companion to ab01; integer doubled midranks, tie
    // correction, fixed-program z ---------------------------------------
    "ab03_mann_whitney" -> ((s, d) =>
      Analytics.mannWhitneyU(
        Tables.events(s, d)
          .where(col("event_type").isin("click", "view"))
          .select(col("event_type").as("arm"),
            expr("cast(round(value * 1000) as bigint)").as("v_milli")),
        "arm", "v_milli", "click", "view"))
  )

  val oracleSql: Map[String, String] = Map(
    // cal01 replay: same age score, same integer bucket program
    "cal01_calibration_report" ->
      """WITH b AS (
        |  SELECT min(o_orderdate) AS mind, max(o_orderdate) AS maxd
        |  FROM orders),
        |s AS (
        |  SELECT (o_orderstatus = 'F') AS done,
        |    (1000 * date_diff('day', o_orderdate, maxd))
        |      // greatest(1, date_diff('day', mind, maxd)) AS sm
        |  FROM orders, b),
        |g AS (
        |  SELECT sm // 100 AS bucket, count(*) AS n,
        |    sum(CASE WHEN done THEN 1 ELSE 0 END) AS np, sum(sm) AS ss
        |  FROM s GROUP BY 1)
        |SELECT bucket, n, CAST(np AS BIGINT) AS n_pos,
        |  CAST((1000 * np) // n AS BIGINT) AS pos_rate_milli,
        |  CAST(ss // n AS BIGINT) AS avg_score_milli,
        |  CAST(abs((1000 * np) // n - ss // n) AS BIGINT) AS gap_milli
        |FROM g ORDER BY bucket""".stripMargin,

    // rfm01 replay: identical per-customer aggregates, then DuckDB's OWN
    // ntile() over the same tie-broken total orders — an independent
    // implementation validating the closed-form sharded tiers
    "rfm01_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_d,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY o_custkey),
        |g AS (SELECT max(o_orderdate) AS as_of FROM orders),
        |base AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', last_d, as_of) AS BIGINT) AS recency_days,
        |    frequency, monetary_cents
        |  FROM per, g)
        |SELECT o_custkey, recency_days, frequency, monetary_cents,
        |  CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS BIGINT)
        |    AS r_score,
        |  CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
        |    AS f_score,
        |  CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
        |    AS BIGINT) AS m_score
        |FROM base ORDER BY o_custkey""".stripMargin,

    // lift01 replay: DuckDB's own ntile() over the same (spend DESC,
    // custkey) order — the rfm01 discipline — then window cumulative
    // sums; the Spark side's sharded closed-form tiers must agree
    "lift01_cumulative_gains" ->
      """WITH per AS (
        |  SELECT o_custkey, count(*) AS freq,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS spend
        |  FROM orders GROUP BY o_custkey),
        |t AS (
        |  SELECT CASE WHEN freq >= 10 THEN 1 ELSE 0 END AS pos,
        |    ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS bucket
        |  FROM per),
        |per_b AS (
        |  SELECT bucket, count(*) AS n, sum(pos) AS n_pos
        |  FROM t GROUP BY bucket),
        |tot AS (SELECT sum(n) AS tn, sum(n_pos) AS tp FROM per_b),
        |cum AS (
        |  SELECT bucket, n, n_pos,
        |    sum(n) OVER (ORDER BY bucket) AS cum_n,
        |    sum(n_pos) OVER (ORDER BY bucket) AS cum_pos
        |  FROM per_b)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
        |  CAST(n_pos AS BIGINT) AS n_pos, CAST(cum_n AS BIGINT) AS cum_n,
        |  CAST(cum_pos AS BIGINT) AS cum_pos,
        |  CAST((1000 * cum_pos) // tp AS BIGINT) AS gain_milli,
        |  CAST((1000 * cum_pos * tn) // (cum_n * tp) AS BIGINT)
        |    AS lift_milli
        |FROM cum, tot ORDER BY bucket""".stripMargin,

    // dt01 replay: per-feature distinct-value counts, window prefix sums
    // standing in for the sharded running totals, the same single-fraction
    // 1e-6 purity score (HUGEINT arithmetic is exact like DECIMAL(38,0)),
    // ties to the smaller threshold
    "dt01_best_split" ->
      """WITH per AS (
        |  SELECT o_custkey, count(*) AS freq FROM orders GROUP BY o_custkey),
        |base AS (
        |  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |    CAST(c_nationkey AS BIGINT) AS nation,
        |    CASE WHEN freq >= 10 THEN 1 ELSE 0 END AS y
        |  FROM customer JOIN per ON c_custkey = o_custkey),
        |lng AS (
        |  SELECT 'bal_cents' AS feature, bal_cents AS v, y FROM base
        |  UNION ALL SELECT 'nation', nation, y FROM base),
        |counts AS (
        |  SELECT feature, v, count(*) AS n, sum(y) AS p
        |  FROM lng GROUP BY 1, 2),
        |pre AS (
        |  SELECT feature, v,
        |    sum(n) OVER (PARTITION BY feature ORDER BY v) AS nl,
        |    sum(p) OVER (PARTITION BY feature ORDER BY v) AS pl,
        |    sum(n) OVER (PARTITION BY feature) AS tn,
        |    sum(p) OVER (PARTITION BY feature) AS tp,
        |    max(v) OVER (PARTITION BY feature) AS vmax
        |  FROM counts),
        |cand AS (
        |  SELECT feature, v AS threshold, nl AS n_left, pl AS pos_left,
        |    tn - nl AS n_right, tp - pl AS pos_right
        |  FROM pre WHERE v < vmax),
        |scored AS (
        |  SELECT *,
        |    ((pos_left * pos_left
        |      + (n_left - pos_left) * (n_left - pos_left)) * n_right +
        |     (pos_right * pos_right
        |      + (n_right - pos_right) * (n_right - pos_right)) * n_left
        |    ) * 1000000 // (n_left * n_right) AS score_micro
        |  FROM cand),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY feature
        |    ORDER BY score_micro DESC, threshold) AS rn
        |  FROM scored)
        |SELECT feature, CAST(threshold AS BIGINT) AS threshold,
        |  CAST(n_left AS BIGINT) AS n_left,
        |  CAST(pos_left AS BIGINT) AS pos_left,
        |  CAST(n_right AS BIGINT) AS n_right,
        |  CAST(pos_right AS BIGINT) AS pos_right,
        |  CAST(score_micro AS BIGINT) AS score_micro
        |FROM best WHERE rn = 1 ORDER BY feature""".stripMargin,

    // mv05 replay: FULL top-3 rebuild over the post-delta present set
    // (base − deletes + inserts, i.e. keys with net multiplicity > 0) —
    // the mv03 rebuild pattern for the ranking twin; agreement proves
    // both the delta locality and the over-retraction guard
    "mv05_incremental_topk" ->
      """WITH pres AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders
        |  WHERE o_orderkey % 3 = 0 OR o_orderkey % 5 <> 0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY price_cents DESC, o_orderkey) AS rn
        |  FROM pres)
        |SELECT o_custkey, o_orderkey, price_cents
        |FROM r WHERE rn <= 3
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // fu02 replay: fu01's chained left-join aggregates with the one extra
    // first-touch window predicate per step (anchor = the user's first
    // signup; each completion must land within 3 days of it)
    "fu02_window_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT s1.user_id, s1.t1,
        |    min(CASE WHEN e.ts > s1.t1
        |          AND e.ts <= s1.t1 + to_seconds(259200) THEN e.ts END)
        |      AS t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'view'
        |  GROUP BY s1.user_id, s1.t1),
        |s3 AS (
        |  SELECT s2.user_id,
        |    min(CASE WHEN e.ts > s2.t2
        |          AND e.ts <= s2.t1 + to_seconds(259200) THEN e.ts END)
        |      AS t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |  GROUP BY s2.user_id, s2.t1)
        |SELECT * FROM (
        |  SELECT 1 AS step_idx, 'signup' AS step_name, count(t1) AS n_users
        |  FROM s1
        |  UNION ALL SELECT 2, 'view', count(t2) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(t3) FROM s3) t
        |ORDER BY step_idx""".stripMargin,

    // ar01 replay: distinct basket-items, triangular pair self-join,
    // both rule directions, positive-integer floor division throughout
    "ar01_association_rules" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |n AS (SELECT count(DISTINCT bk) AS nb FROM bi),
        |items AS (SELECT it, count(*) AS f FROM bi GROUP BY it),
        |pairs AS (
        |  SELECT a.it AS x, b.it AS y, count(*) AS f_ab
        |  FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |directed AS (
        |  SELECT x AS antecedent, y AS consequent, f_ab FROM pairs
        |  UNION ALL SELECT y, x, f_ab FROM pairs)
        |SELECT antecedent, consequent,
        |  CAST(fa.f AS BIGINT) AS f_a, CAST(fb.f AS BIGINT) AS f_b,
        |  CAST(f_ab AS BIGINT) AS f_ab,
        |  CAST((1000 * f_ab) // fa.f AS BIGINT) AS conf_milli,
        |  CAST((1000 * f_ab * nb) // (fa.f * fb.f) AS BIGINT) AS lift_milli
        |FROM directed
        |JOIN items fa ON fa.it = antecedent
        |JOIN items fb ON fb.it = consequent, n
        |ORDER BY antecedent, consequent""".stripMargin,

    // psm01 replay: brute-force argmin with the operator's deterministic
    // tie rules — nearest |balance diff|, then smaller control balance,
    // then smaller control custkey — over the within-nation product
    "psm01_matched_att" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS r
        |  FROM orders GROUP BY o_custkey),
        |c AS (
        |  SELECT c_custkey, c_nationkey,
        |    c_mktsegment = 'BUILDING' AS treated,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
        |    coalesce(r, 0) AS rv
        |  FROM customer LEFT JOIN rev ON o_custkey = c_custkey),
        |m AS (
        |  SELECT t.c_nationkey, t.c_custkey, t.rv AS trev, ct.rv AS crev,
        |    row_number() OVER (PARTITION BY t.c_custkey
        |      ORDER BY abs(t.bal - ct.bal), ct.bal, ct.c_custkey) AS rn
        |  FROM c t JOIN c ct ON t.c_nationkey = ct.c_nationkey
        |    AND t.treated AND NOT ct.treated)
        |SELECT c_nationkey, count(*) AS n_pairs,
        |  CAST(sum(trev) AS BIGINT) AS sum_treated_cents,
        |  CAST(sum(crev) AS BIGINT) AS sum_ctrl_cents
        |FROM m WHERE rn = 1 GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    // am01 replay: the cm01 polyhash+splitmix chain per distinct word,
    // re-mixed with the estimator index for the ±1 sign (bit 0), sign
    // sums per (lang, estimator), squared-mean estimate vs exact Σf²
    "am01_ams_f2" ->
      """WITH w AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |cnts AS (SELECT lang, word, count(*) AS f FROM w GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT word FROM cnts),
        |ph AS (
        |  SELECT word, list_reduce(list_prepend(CAST(7 AS UHUGEINT),
        |    [CAST(unicode(ch) AS UHUGEINT) FOR ch IN string_split(word, '')]),
        |    (a, x) -> (31 * a + x) % CAST(18446744073709551616 AS UHUGEINT)) AS h
        |  FROM keys),
        |b1 AS (SELECT word, (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS h FROM ph),
        |b2 AS (SELECT word, (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS h FROM b1),
        |base AS (SELECT word, xor(h, h >> 31) AS h FROM b2),
        |g0 AS (SELECT word, r, (h + CAST(r AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS g
        |       FROM base, range(0, 8) t(r)),
        |g1 AS (SELECT word, r, (xor(g, g >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS g FROM g0),
        |g2 AS (SELECT word, r, (xor(g, g >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS g FROM g1),
        |sgn AS (SELECT word, r,
        |          1 - 2 * CAST(xor(g, g >> 31) % 2 AS BIGINT) AS sgn
        |        FROM g2),
        |s AS (
        |  SELECT lang, r, sum(sgn * f) AS sr, sum(f) AS nr
        |  FROM cnts JOIN sgn USING (word) GROUP BY 1, 2),
        |est AS (
        |  SELECT lang, CAST(sum(sr * sr) // 8 AS BIGINT) AS f2_est,
        |    CAST(max(nr) AS BIGINT) AS n_rows
        |  FROM s GROUP BY lang),
        |ex AS (
        |  SELECT lang, CAST(sum(f * f) AS BIGINT) AS f2_exact
        |  FROM cnts GROUP BY lang)
        |SELECT lang, n_rows, f2_exact, f2_est
        |FROM est JOIN ex USING (lang) ORDER BY lang""".stripMargin,

    // ka03 replay: per-mille-quantized TVD — class terms Σ|p−q| over
    // present values, absent values folded in via ΣQ − ΣQ_present, all
    // non-negative integer floor division
    "ka03_t_closeness" ->
      """WITH r AS (
        |  SELECT c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000
        |      AS bal_band,
        |    c_nationkey AS sv
        |  FROM customer WHERE c_nationkey IS NOT NULL),
        |cv AS (SELECT c_mktsegment, bal_band, sv, count(*) AS fcv
        |       FROM r GROUP BY 1, 2, 3),
        |gv AS (SELECT sv, count(*) AS fgv FROM r GROUP BY sv),
        |tot AS (SELECT sum(fgv) AS N FROM gv),
        |q AS (SELECT sv, (1000 * fgv) // N AS qv FROM gv, tot),
        |sq AS (SELECT sum(qv) AS sqv FROM q),
        |cls AS (SELECT c_mktsegment, bal_band, sum(fcv) AS n
        |        FROM cv GROUP BY 1, 2),
        |agg AS (
        |  SELECT cv.c_mktsegment, cv.bal_band,
        |    sum(abs((1000 * cv.fcv) // cls.n - q.qv)) AS absterm,
        |    sum(q.qv) AS qpres
        |  FROM cv
        |  JOIN q USING (sv)
        |  JOIN cls ON cls.c_mktsegment = cv.c_mktsegment
        |    AND cls.bal_band = cv.bal_band
        |  GROUP BY 1, 2)
        |SELECT agg.c_mktsegment, agg.bal_band,
        |  CAST(cls.n AS BIGINT) AS class_size,
        |  CAST((absterm + sqv - qpres) // 2 AS BIGINT) AS tvd_milli,
        |  (absterm + sqv - qpres) // 2 <= 250 AS t_close
        |FROM agg
        |JOIN cls ON cls.c_mktsegment = agg.c_mktsegment
        |  AND cls.bal_band = agg.bal_band, sq
        |ORDER BY agg.c_mktsegment, agg.bal_band""".stripMargin,

    // rrf01 replay: both runs rebuilt with the same scores, per-run
    // row_number ranks, integer 1e6//(60+rank) fusion, per-query top 10
    "rrf01_rank_fusion" ->
      """WITH q AS (SELECT unnest(['table', 'spark', 'scan']) AS query),
        |cand AS (
        |  SELECT q.query, d.doc_id, d.n_chars,
        |    len(list_filter(string_split(d.text, ' '), w -> w = q.query))
        |      AS tf
        |  FROM documents d, q
        |  WHERE list_contains(string_split(d.text, ' '), q.query)),
        |runs AS (
        |  SELECT 'tf' AS run, query, doc_id, CAST(tf AS BIGINT) AS score
        |  FROM cand
        |  UNION ALL
        |  SELECT 'short', query, doc_id, CAST(-n_chars AS BIGINT)
        |  FROM cand),
        |rk AS (
        |  SELECT run, query, doc_id, row_number() OVER
        |    (PARTITION BY run, query ORDER BY score DESC, doc_id) AS rk
        |  FROM runs),
        |f AS (
        |  SELECT query, doc_id, count(*) AS n_runs,
        |    CAST(sum(1000000 // (60 + rk)) AS BIGINT) AS fused_micro
        |  FROM rk GROUP BY 1, 2),
        |fr AS (
        |  SELECT query, doc_id, n_runs, fused_micro, row_number() OVER
        |    (PARTITION BY query ORDER BY fused_micro DESC, doc_id)
        |      AS fused_rank
        |  FROM f)
        |SELECT query, doc_id, n_runs, fused_micro,
        |  CAST(fused_rank AS BIGINT) AS fused_rank
        |FROM fr WHERE fused_rank <= 10
        |ORDER BY query, fused_rank""".stripMargin,

    // ka02 replay: per-class sensitive frequencies, rank by (freq desc,
    // value), dominance test as the exact rational r1·cDen < cNum·tail
    "ka02_recursive_ldiversity" ->
      """WITH freq AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv, count(*) AS f
        |  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1, 2, 3),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
        |    ORDER BY f DESC, sv) AS rk FROM freq),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(f) AS BIGINT) AS class_size,
        |    count(*) AS n_sensitive,
        |    CAST(max(CASE WHEN rk = 1 THEN f END) AS BIGINT) AS top_freq,
        |    CAST(sum(CASE WHEN rk >= 3 THEN f ELSE 0 END) AS BIGINT)
        |      AS tail_freq
        |  FROM rk GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, class_size, n_sensitive,
        |  top_freq, tail_freq,
        |  (n_sensitive >= 3 AND top_freq * 2 < 1 * tail_freq) AS cl_diverse
        |FROM cls ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // gn01 replay: same ascending rank (ties free — permuting equal
    // values never moves Σ i·x), exact HUGEINT rank-weighted sums,
    // VARCHAR-routed division
    "gn01_gini_concentration" ->
      """WITH v AS (
        |  SELECT c_nationkey, CAST(round(o_totalprice * 1000) AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT c_nationkey, v,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY v) AS i
        |  FROM v),
        |a AS (
        |  SELECT c_nationkey, count(*) AS n, CAST(sum(v) AS BIGINT) AS total,
        |    sum(CAST(i AS HUGEINT) * v) AS w, min(v) AS mn
        |  FROM r GROUP BY 1)
        |SELECT c_nationkey, n, total,
        |  CASE WHEN mn >= 0 AND total > 0 AND n > 1 THEN
        |    CAST(CAST(2 * w - (CAST(n AS HUGEINT) + 1) * total AS VARCHAR)
        |      AS DOUBLE)
        |    / CAST(CAST(CAST(n AS HUGEINT) * total AS VARCHAR) AS DOUBLE)
        |  END AS gini
        |FROM a ORDER BY c_nationkey""".stripMargin,

    // did01 replay: same integer midpoint split, exact DECIMAL cell
    // sums, VARCHAR-routed means, same fixed subtraction chain
    "did01_diff_in_diff" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(round(value * 1000) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |p AS (SELECT user_id % 2 = 0 AS treat,
        |        day >= lo + (hi - lo + 1) // 2 AS post, v
        |      FROM ev, b),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_t_pre,
        |  sum(CASE WHEN treat AND NOT post
        |      THEN CAST(v AS DECIMAL(18,2)) END) AS s_t_pre,
        |  CAST(sum(CASE WHEN treat AND post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_t_post,
        |  sum(CASE WHEN treat AND post
        |      THEN CAST(v AS DECIMAL(18,2)) END) AS s_t_post,
        |  CAST(sum(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c_pre,
        |  sum(CASE WHEN NOT treat AND NOT post
        |      THEN CAST(v AS DECIMAL(18,2)) END) AS s_c_pre,
        |  CAST(sum(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c_post,
        |  sum(CASE WHEN NOT treat AND post
        |      THEN CAST(v AS DECIMAL(18,2)) END) AS s_c_post
        |  FROM p),
        |mm AS (SELECT *,
        |  CASE WHEN n_t_pre > 0 THEN CAST(CAST(s_t_pre AS VARCHAR) AS DOUBLE)
        |    / CAST(n_t_pre AS DOUBLE) END AS mean_t_pre,
        |  CASE WHEN n_t_post > 0 THEN CAST(CAST(s_t_post AS VARCHAR) AS DOUBLE)
        |    / CAST(n_t_post AS DOUBLE) END AS mean_t_post,
        |  CASE WHEN n_c_pre > 0 THEN CAST(CAST(s_c_pre AS VARCHAR) AS DOUBLE)
        |    / CAST(n_c_pre AS DOUBLE) END AS mean_c_pre,
        |  CASE WHEN n_c_post > 0 THEN CAST(CAST(s_c_post AS VARCHAR) AS DOUBLE)
        |    / CAST(n_c_post AS DOUBLE) END AS mean_c_post
        |  FROM a)
        |SELECT n_t_pre, mean_t_pre, n_t_post, mean_t_post,
        |  n_c_pre, mean_c_pre, n_c_post, mean_c_post,
        |  (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre)
        |    AS did_effect
        |FROM mm""".stripMargin,

    // ab04 replay: same per-user panel, exact pooled moments, the same
    // θ = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) division and adjustment chain
    "ab04_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(round(value * 1000) AS BIGINT) AS v
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN day < lo + (hi - lo + 1) // 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN day >= lo + (hi - lo + 1) // 2
        |      AND event_type = 'purchase' THEN v ELSE 0 END) AS BIGINT) AS y
        |  FROM ev, b GROUP BY user_id),
        |pool AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(y AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS sxy
        |  FROM u),
        |th AS (
        |  SELECT n,
        |    CASE WHEN n * sxx - sx * sx > 0 THEN
        |      CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(CAST(n * sxx - sx * sx AS DECIMAL(38,6))
        |          AS VARCHAR) AS DOUBLE)
        |    END AS theta,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
        |  FROM pool),
        |arms AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(18,2))) AS ax,
        |    sum(CAST(y AS DECIMAL(18,2))) AS ay
        |  FROM u GROUP BY 1)
        |SELECT arm, a.n,
        |  CAST(CAST(ay AS VARCHAR) AS DOUBLE) / CAST(a.n AS DOUBLE)
        |    AS mean_raw,
        |  CAST(CAST(ay AS VARCHAR) AS DOUBLE) / CAST(a.n AS DOUBLE)
        |    - theta * (CAST(CAST(ax AS VARCHAR) AS DOUBLE)
        |               / CAST(a.n AS DOUBLE) - xbar) AS mean_adj,
        |  theta
        |FROM arms a, th ORDER BY arm""".stripMargin,

    // at04 replay: same journeys (list ordered by ts, event_id), same
    // transition counts, and the SAME exact rationals — the absorption
    // system tot(s)·P(s) = Σc(s→t)·P(t) + c(s→CONV) solved by explicit
    // Cramer determinants (a21 = a31 = 0 since nothing re-enters
    // __start__, so detA = t1·(a22·a33 − a23·a32)); knocked-out channel
    // = identity row, which collapses to the 2×2 minors below. Removal
    // micro and the largest-remainder credit replay in HUGEINT.
    "at04_markov_attribution" ->
      """WITH seqs AS (
        |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY user_id),
        |convs AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |users AS (
        |  SELECT COALESCE(s.seq, []) AS seq,
        |    CASE WHEN c.user_id IS NOT NULL THEN 'CONV' ELSE 'NULL' END
        |      AS term,
        |    COALESCE(c.rev, 0) AS rev
        |  FROM seqs s FULL OUTER JOIN convs c ON s.user_id = c.user_id),
        |tr AS (
    |  SELECT unnest(CASE WHEN len(seq) = 0
        |    THEN [['__start__', term]]
        |    ELSE list_concat(list_concat([['__start__', seq[1]]],
        |      [[seq[i], seq[i + 1]] FOR i IN range(1, len(seq))]),
        |      [[seq[-1], term]]) END) AS t
        |  FROM users),
        |cnt AS (SELECT t[1] AS f, t[2] AS tt, count(*) AS c
        |        FROM tr GROUP BY 1, 2),
        |m AS (
        |  SELECT
        |    COALESCE((SELECT CAST(sum(c) AS HUGEINT) FROM cnt
        |              WHERE f = '__start__'), 1) AS t1,
        |    COALESCE((SELECT CAST(sum(c) AS HUGEINT) FROM cnt
        |              WHERE f = 'click'), 1) AS t2,
        |    COALESCE((SELECT CAST(sum(c) AS HUGEINT) FROM cnt
        |              WHERE f = 'view'), 1) AS t3,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = '__start__' AND tt = 'click'), 0) AS c12,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = '__start__' AND tt = 'view'), 0) AS c13,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = 'click' AND tt = 'click'), 0) AS c22,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = 'click' AND tt = 'view'), 0) AS c23,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = 'view' AND tt = 'click'), 0) AS c32,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = 'view' AND tt = 'view'), 0) AS c33,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = '__start__' AND tt = 'CONV'), 0) AS b1,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = 'click' AND tt = 'CONV'), 0) AS b2,
        |    COALESCE((SELECT CAST(c AS HUGEINT) FROM cnt
        |              WHERE f = 'view' AND tt = 'CONV'), 0) AS b3),
        |sol AS (
        |  SELECT
        |    t1 * ((t2 - c22) * (t3 - c33) - c23 * c32) AS pn_den,
        |    b1 * ((t2 - c22) * (t3 - c33) - c23 * c32)
        |      + c12 * (b2 * (t3 - c33) + c23 * b3)
        |      + c13 * (b2 * c32 + (t2 - c22) * b3) AS pn_num,
        |    t1 * (t3 - c33) AS pc_den,
        |    b1 * (t3 - c33) + c13 * b3 AS pc_num,
        |    t1 * (t2 - c22) AS pv_den,
        |    b1 * (t2 - c22) + c12 * b2 AS pv_num
        |  FROM m),
        |re AS (
        |  SELECT 'click' AS channel,
        |    CASE WHEN pn_num <= 0 OR pn_num * pc_den - pc_num * pn_den <= 0
        |      THEN CAST(0 AS HUGEINT)
        |      ELSE ((pn_num * pc_den - pc_num * pn_den) * 1000000)
        |           // (pn_num * pc_den) END AS re
        |  FROM sol
        |  UNION ALL
        |  SELECT 'view',
        |    CASE WHEN pn_num <= 0 OR pn_num * pv_den - pv_num * pn_den <= 0
        |      THEN CAST(0 AS HUGEINT)
        |      ELSE ((pn_num * pv_den - pv_num * pn_den) * 1000000)
        |           // (pn_num * pv_den) END
        |  FROM sol),
        |tot AS (SELECT CAST(COALESCE(sum(rev), 0) AS HUGEINT) AS trev
        |        FROM users WHERE term = 'CONV'),
        |rs AS (SELECT CAST(sum(re) AS HUGEINT) AS resum FROM re),
        |alloc AS (
        |  SELECT channel, re,
        |    CASE WHEN resum = 0 THEN CAST(0 AS HUGEINT)
        |         ELSE (trev * re) // resum END AS fl,
        |    CASE WHEN resum = 0 THEN CAST(0 AS HUGEINT)
        |         ELSE (trev * re) % resum END AS rem
        |  FROM re, tot, rs),
        |fin AS (
        |  SELECT channel, re,
        |    CASE WHEN (SELECT resum FROM rs) = 0 THEN CAST(0 AS HUGEINT)
        |      ELSE fl + CASE WHEN
        |        row_number() OVER (ORDER BY rem DESC, channel)
        |          <= (SELECT trev FROM tot) - (SELECT sum(fl) FROM alloc)
        |        THEN 1 ELSE 0 END END AS credit
        |  FROM alloc)
        |SELECT channel, CAST(re AS BIGINT) AS removal_micro,
        |  CAST(credit AS BIGINT) AS credit_milli
        |FROM fin ORDER BY channel""".stripMargin,

    // th01 replay: same monthly aggregate, same one-division slopes,
    // same (lo+hi)/2 order-statistic median (odd counts collapse exactly)
    "th01_theilsen_trend" ->
      """WITH monthly AS (
        |  SELECT c_nationkey,
        |    year(CAST(o_orderdate AS DATE)) * 12 +
        |      month(CAST(o_orderdate AS DATE)) - 1 AS m,
        |    CAST(sum(CAST(round(o_totalprice * 1000) AS BIGINT)) AS BIGINT)
        |      AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT a.c_nationkey,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS s
        |  FROM monthly a JOIN monthly b
        |    ON a.c_nationkey = b.c_nationkey AND b.m > a.m),
        |r AS (
        |  SELECT c_nationkey, s,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY s) AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM p)
        |SELECT c_nationkey, CAST(max(n) AS BIGINT) AS n_pairs,
        |  (max(CASE WHEN rn = (n + 1) // 2 THEN s END) +
        |   max(CASE WHEN rn = n // 2 + 1 THEN s END)) / 2.0 AS ts_slope
        |FROM r GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // ac01 replay: same integer-centered series (n·x − S in HUGEINT),
    // same shifted equi-join per lag, VARCHAR-routed final division
    "ac01_autocorrelation" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS t,
        |    CAST(sum(CAST(round(o_totalprice * 1000) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(x) AS HUGEINT) AS s
        |       FROM daily),
        |c AS (SELECT t, CAST(n AS HUGEINT) * x - s AS c FROM daily, st),
        |den AS (SELECT sum(c * c) AS den FROM c),
        |p AS (
        |  SELECT l.lag, a.c AS ca, b.c AS cb
        |  FROM c a JOIN range(1, 8) l(lag) ON true
        |  JOIN c b ON b.t = a.t + l.lag)
        |SELECT lag, count(*) AS n_pairs,
        |  CASE WHEN den > 0 THEN
        |    CAST(CAST(sum(ca * cb) AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(den AS VARCHAR) AS DOUBLE)
        |  END AS acf
        |FROM p, den GROUP BY lag, den ORDER BY lag""".stripMargin,

    // ab03 replay: same per-value counts, same doubled-midrank rank sum
    // (2·before + c + 1), same exact-integer variance numerator
    // VARCHAR-routed to DOUBLE, same fixed z program
    "ab03_mann_whitney" ->
      """WITH pv AS (
        |  SELECT CAST(round(value * 1000) AS BIGINT) AS v, count(*) AS c,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |r AS (
        |  SELECT *, COALESCE(CAST(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |    AS bef FROM pv),
        |a AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(c - ca) AS BIGINT) AS n_b,
        |    CAST(sum(ca * (2 * bef + c + 1)) AS BIGINT) AS r2a,
        |    sum(CAST(c AS HUGEINT) * c * c - c) AS tie
        |  FROM r),
        |f AS (
        |  SELECT n_a, n_b, r2a - n_a * (n_a + 1) AS u2_a,
        |    CAST(tie AS BIGINT) AS tie_term,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN
        |      CAST(CAST(CAST(n_a AS HUGEINT) * n_b *
        |          ((CAST(n_a AS HUGEINT) + n_b + 1) * (n_a + n_b)
        |            * (n_a + n_b - 1) - tie) AS VARCHAR) AS DOUBLE)
        |      / (12.0 * CAST(n_a + n_b AS DOUBLE)
        |         * (CAST(n_a + n_b AS DOUBLE) - 1.0))
        |    END AS v2
        |  FROM a)
        |SELECT n_a, n_b, u2_a, tie_term,
        |  CASE WHEN v2 > 0 THEN CAST(u2_a - n_a * n_b AS DOUBLE)
        |       / (2.0 * sqrt(v2)) END AS z_stat
        |FROM f""".stripMargin,

    // hh01 replay: the naive full-shuffle form the two-pass scheme equals;
    // threshold is the SAME integer ceil-division program
    "hh01_heavy_hitter_words" ->
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |n AS (SELECT count(*) AS n FROM w)
        |SELECT word, count(*) AS cnt FROM w, n
        |GROUP BY word, n.n
        |HAVING count(*) >= (n.n * 1 + 399) // 400
        |ORDER BY cnt DESC, word""".stripMargin,

    // sl01 replay: the quadratic NOT EXISTS dominance definition the
    // sort-based plan must equal (price integer-quantized both sides)
    "sl01_skyline_orders" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 1000) AS BIGINT)
        |           AS o_price_milli, o_orderdate
        |  FROM orders WHERE o_custkey < 300)
        |SELECT o_orderkey, o_price_milli, o_orderdate FROM o p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM o q
        |  WHERE q.o_price_milli <= p.o_price_milli
        |    AND q.o_orderdate <= p.o_orderdate
        |    AND (q.o_price_milli < p.o_price_milli
        |         OR q.o_orderdate < p.o_orderdate))
        |ORDER BY o_orderkey""".stripMargin,

    // mv01 replay: the FULL rebuild the incremental fold must equal
    "mv01_incremental_agg" ->
      """SELECT o_custkey, count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // at02 replay: same integer largest-remainder split on abs(rev) with
    // the sign re-applied per share (the operator's explicit negative-
    // revenue handling — division stays non-negative so truncating and
    // flooring engines agree); leftover abs(rev) % n milli-units go to
    // the most recent touches by (tts, tid) rank; direct = NOT EXISTS
    "at02_linear_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, ts AS cts, event_id AS cid,
        |         CAST(round(value * 1000) AS BIGINT) AS rev
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, ts AS tts, event_type AS channel, event_id AS tid
        |  FROM events WHERE event_type IN ('click', 'view')),
        |j AS (
        |  SELECT c.cid, c.rev, t.channel, t.tts, t.tid
        |  FROM conv c JOIN t ON t.user_id = c.user_id
        |  WHERE t.tts <= c.cts AND t.tts > c.cts - INTERVAL 7 DAY),
        |r AS (
        |  SELECT cid, rev, channel,
        |    count(*) OVER (PARTITION BY cid) AS n,
        |    row_number() OVER (PARTITION BY cid
        |                       ORDER BY tts DESC, tid DESC) AS rk
        |  FROM j),
        |shares AS (
        |  SELECT channel,
        |    (CASE WHEN rev < 0 THEN -1 ELSE 1 END) *
        |      (abs(rev) // n +
        |       CASE WHEN rk <= abs(rev) % n THEN 1 ELSE 0 END) AS share
        |  FROM r
        |  UNION ALL
        |  SELECT 'direct' AS channel, rev AS share
        |  FROM conv c
        |  WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.cid = c.cid))
        |SELECT channel, count(*) AS n_credits,
        |       CAST(sum(share) AS BIGINT) AS revenue_milli
        |FROM shares GROUP BY channel ORDER BY channel""".stripMargin,

    // at03 replay: U-shaped weights (endpoints 40·(n−2), middles 20;
    // n≤2 → equal) as the same weighted largest-remainder integer split —
    // floors via abs·w // W, the Σfrac // W leftover units to the largest
    // fractional parts (tie: most recent), sign re-applied per share
    "at03_position_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, ts AS cts, event_id AS cid,
        |         CAST(round(value * 1000) AS BIGINT) AS rev
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, ts AS tts, event_type AS channel, event_id AS tid
        |  FROM events WHERE event_type IN ('click', 'view')),
        |j AS (
        |  SELECT c.cid, c.rev, t.channel, t.tts, t.tid
        |  FROM conv c JOIN t ON t.user_id = c.user_id
        |  WHERE t.tts <= c.cts AND t.tts > c.cts - INTERVAL 7 DAY),
        |r AS (
        |  SELECT cid, rev, channel, tts, tid,
        |    count(*) OVER (PARTITION BY cid) AS n,
        |    row_number() OVER (PARTITION BY cid
        |                       ORDER BY tts ASC, tid ASC) AS pos
        |  FROM j),
        |wgt AS (
        |  SELECT *,
        |    CASE WHEN n <= 2 THEN 1
        |         WHEN pos = 1 OR pos = n THEN 40 * (n - 2)
        |         ELSE 20 END AS w,
        |    CASE WHEN n <= 2 THEN n ELSE 100 * (n - 2) END AS bw
        |  FROM r),
        |fl AS (
        |  SELECT *, abs(rev) * w // bw AS flr, abs(rev) * w % bw AS fr
        |  FROM wgt),
        |rk AS (
        |  SELECT *,
        |    sum(fr) OVER (PARTITION BY cid) // bw AS extra,
        |    row_number() OVER (PARTITION BY cid
        |                       ORDER BY fr DESC, tts DESC, tid DESC) AS rr
        |  FROM fl),
        |shares AS (
        |  SELECT channel,
        |    (CASE WHEN rev < 0 THEN -1 ELSE 1 END) *
        |      (flr + CASE WHEN rr <= extra THEN 1 ELSE 0 END) AS share
        |  FROM rk
        |  UNION ALL
        |  SELECT 'direct' AS channel, rev AS share
        |  FROM conv c
        |  WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.cid = c.cid))
        |SELECT channel, count(*) AS n_credits,
        |       CAST(sum(share) AS BIGINT) AS revenue_milli
        |FROM shares GROUP BY channel ORDER BY channel""".stripMargin,

    // mv04 replay: the rebuild over the POST-DELETE base — surviving rows
    // are everything except the deleted slice (base %3!=0 rows whose key
    // is %5==0); fully-retracted customers simply have no rows here
    "mv04_incremental_agg_deletes" ->
      """SELECT o_custkey, count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders
        |WHERE NOT (o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // at01 replay: DuckDB's NATIVE asof join over tie-deduped touches
    // (same keep-min-event_id election as the Spark rightTieCol), then
    // the identical integer revenue rollup
    "at01_last_touch_attribution" ->
      """WITH touches AS (
        |  SELECT user_id, ts, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, ts
        |                            ORDER BY event_id) AS rn
        |  FROM events WHERE event_type IN ('click', 'view')),
        |t1 AS (SELECT user_id, ts, event_type FROM touches WHERE rn = 1),
        |conv AS (SELECT user_id, ts, value FROM events
        |         WHERE event_type = 'purchase'),
        |att AS (
        |  SELECT coalesce(t1.event_type, 'direct') AS channel, conv.value
        |  FROM conv ASOF LEFT JOIN t1
        |    ON conv.user_id = t1.user_id AND conv.ts >= t1.ts)
        |SELECT channel, count(*) AS n_purchases,
        |       CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
        |         AS revenue_milli
        |FROM att GROUP BY channel ORDER BY channel""".stripMargin,

    // cm01 replay: exact per-word counts, then ONE hash program over
    // corpus ∪ probe words (UHUGEINT poly fold + splitmix64, re-mixed
    // per row with +i, unsigned mod width), cell sums, min-over-rows
    "cm01_countmin_words" ->
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |cnts AS (SELECT word, count(*) AS c FROM w GROUP BY word),
        |probes AS (SELECT unnest(['table', 'a', 'spark', 'value', 'flink']) AS word),
        |keys AS (SELECT word FROM cnts UNION SELECT word FROM probes),
        |ph AS (
        |  SELECT word, list_reduce(list_prepend(CAST(7 AS UHUGEINT),
        |    [CAST(unicode(ch) AS UHUGEINT) FOR ch IN string_split(word, '')]),
        |    (a, x) -> (31 * a + x) % CAST(18446744073709551616 AS UHUGEINT)) AS h
        |  FROM keys),
        |b1 AS (SELECT word, (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS h FROM ph),
        |b2 AS (SELECT word, (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS h FROM b1),
        |base AS (SELECT word, xor(h, h >> 31) AS h FROM b2),
        |g0 AS (SELECT word, i, (h + CAST(i AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS g
        |       FROM base, range(0, 4) t(i)),
        |g1 AS (SELECT word, i, (xor(g, g >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS g FROM g0),
        |g2 AS (SELECT word, i, (xor(g, g >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS g FROM g1),
        |bkt AS (SELECT word, CAST(i AS INTEGER) AS row_i,
        |          CAST(xor(g, g >> 31) % 16 AS INTEGER) AS bucket FROM g2),
        |cells AS (SELECT row_i, bucket, sum(c) AS cnt
        |          FROM bkt JOIN cnts USING (word) GROUP BY row_i, bucket),
        |paddr AS (SELECT p.word, b.row_i, b.bucket
        |          FROM probes p JOIN bkt b ON b.word = p.word),
        |est AS (SELECT word,
        |          CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_cnt
        |        FROM paddr LEFT JOIN cells USING (row_i, bucket)
        |        GROUP BY word)
        |SELECT e.word, e.est_cnt, coalesce(cnts.c, 0) AS true_cnt,
        |       e.est_cnt >= coalesce(cnts.c, 0) AS overestimate_ok
        |FROM est e LEFT JOIN cnts ON cnts.word = e.word
        |ORDER BY e.word""".stripMargin,

    // ph01 replay: the same anchor-alignment program — zipped unnest gives
    // positional tokens, votes group on (phrase, doc, anchor), full
    // matches have plen votes
    "ph01_phrase_search" ->
      """WITH p AS (SELECT * FROM (VALUES (1, 'fast table'),
        |    (2, 'table part'), (3, 'scan scan'), (4, 'a a a'),
        |    (5, 'spark flink engine')) t(phrase_id, phrase)),
        |pt AS (SELECT phrase_id,
        |         unnest(string_split(lower(phrase), ' ')) AS term,
        |         unnest(range(len(string_split(lower(phrase), ' ')))) AS ppos
        |       FROM p),
        |plen AS (SELECT phrase_id, count(*) AS plen FROM pt GROUP BY phrase_id),
        |tok AS (SELECT doc_id,
        |          unnest(string_split(lower(text), ' ')) AS term,
        |          unnest(range(len(string_split(lower(text), ' ')))) AS pos
        |        FROM documents),
        |votes AS (SELECT pt.phrase_id, tok.doc_id, tok.pos - pt.ppos AS anchor
        |          FROM tok JOIN pt ON tok.term = pt.term),
        |full_m AS (SELECT v.phrase_id, v.doc_id, v.anchor
        |           FROM votes v GROUP BY v.phrase_id, v.doc_id, v.anchor
        |           HAVING count(*) = (SELECT plen FROM plen
        |                              WHERE plen.phrase_id = v.phrase_id))
        |SELECT phrase_id, doc_id, count(*) AS n_matches
        |FROM full_m GROUP BY phrase_id, doc_id
        |ORDER BY phrase_id, doc_id""".stripMargin,

    "fu01_funnel_steps" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT s1.user_id, min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'view'
        |  GROUP BY s1.user_id),
        |s3 AS (
        |  SELECT s2.user_id, min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |  GROUP BY s2.user_id)
        |SELECT * FROM (
        |  SELECT 1 AS step_idx, 'signup' AS step_name, count(t1) AS n_users
        |  FROM s1
        |  UNION ALL SELECT 2, 'view', count(t2) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(t3) FROM s3) t
        |ORDER BY step_idx""".stripMargin,

    "rt01_retention_cohorts" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS p
        |  FROM events),
        |coh AS (
        |  SELECT user_id, min(p) AS cohort_period FROM act GROUP BY user_id)
        |SELECT cohort_period, p - cohort_period AS period_offset,
        |  count(*) AS n_users
        |FROM act JOIN coh USING (user_id)
        |GROUP BY cohort_period, period_offset
        |ORDER BY cohort_period, period_offset""".stripMargin,

    "im01_merge_intervals" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, ts AS s_ts,
        |    ts + to_seconds(CAST(60 + event_id % 7200 AS BIGINT)) AS e_ts
        |  FROM events WHERE event_type = 'purchase'),
        |x AS (
        |  SELECT user_id, event_id, s_ts, e_ts,
        |    max(e_ts) OVER (PARTITION BY user_id ORDER BY s_ts, e_ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s_ts, e_ts,
        |    sum(CASE WHEN pm IS NULL OR s_ts > pm THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s_ts, e_ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM x),
        |m AS (
        |  SELECT user_id, grp, min(s_ts) AS m_start, max(e_ts) AS m_end,
        |    count(*) AS n_intervals
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY m_start)
        |       AS INTEGER) AS merged_seq,
        |  m_start, m_end, n_intervals
        |FROM m ORDER BY user_id, merged_seq""".stripMargin,

    "qt01_group_quantiles" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(p AS INTEGER) AS pct,
        |  CAST(l_quantity AS DOUBLE) AS value
        |FROM r JOIN (VALUES (25), (50), (75), (90)) t(p)
        |  ON rn = 1 + (p * (n - 1)) // 100
        |ORDER BY l_returnflag, pct""".stripMargin,

    "hg01_value_histogram" ->
      """WITH b AS (
        |  SELECT least(19, greatest(0, CAST(floor(
        |    (o_totalprice - 0.0) / 600000.0 * 20) AS BIGINT))) AS bin
        |  FROM orders)
        |SELECT bin, 0.0 + bin * (600000.0 / 20) AS bin_lo,
        |  0.0 + (bin + 1) * (600000.0 / 20) AS bin_hi, count(*) AS n
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // fixed-point BM25 replay: identical parenthesization everywhere a
    // double op occurs; per-term weights rounded to 1e-6 BEFORE the sum so
    // the aggregate is an order-free integer sum on both engines
    "bm01_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        |    FROM documents) u
        |  WHERE t <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM toks GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |stats AS (
        |  SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
        |    CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
        |      / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
        |q(query_id, term) AS (VALUES
        |  (1, 'spark'), (1, 'join'), (1, 'window'),
        |  (2, 'hash'), (2, 'table'), (2, 'scan'),
        |  (3, 'customer'), (3, 'order'), (3, 'value')),
        |scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |    CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
        |         * ((tf * (1.0 + CAST(1.2 AS DOUBLE)))
        |            / (tf + CAST(1.2 AS DOUBLE)
        |               * (0.25 + 0.75 * dl / avgdl)))
        |         * 1000000) AS BIGINT) AS w
        |  FROM q JOIN dfreq USING (term) JOIN tf USING (term)
        |    JOIN dl USING (doc_id)
        |  CROSS JOIN stats),
        |agg AS (
        |  SELECT query_id, doc_id, CAST(sum(w) AS BIGINT) AS score_scaled
        |  FROM scored GROUP BY query_id, doc_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank,
        |  score_scaled
        |FROM (
        |  SELECT query_id, doc_id, score_scaled,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_scaled DESC, doc_id) AS INTEGER) AS rank
        |  FROM agg) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // MMR replay: bm01's scoring prelude to top-8 candidates, then the
    // greedy rounds unrolled — identical fixed double programs for
    // normalized relevance, Jaccard, and the λ-rational selection score
    "mmr01_diversified_topk" -> {
      val rounds = (2 to 4).map { t =>
        val prevSel = if (t == 2) "s1"
          else s"(SELECT query_id, doc_id FROM sl${t - 1})"
        s"""m$t AS (
           |  SELECT r.query_id, r.doc_id,
           |    max(coalesce(ps.sim, 0.0)) AS msim
           |  FROM r$t r JOIN $prevSel s ON r.query_id = s.query_id
           |  LEFT JOIN ps ON least(r.doc_id, s.doc_id) = ps.da
           |    AND greatest(r.doc_id, s.doc_id) = ps.db
           |  GROUP BY r.query_id, r.doc_id),
           |p$t AS (
           |  SELECT query_id, doc_id, score_scaled, $t AS rank FROM (
           |    SELECT r.query_id, r.doc_id, r.score_scaled,
           |      row_number() OVER (PARTITION BY r.query_id
           |        ORDER BY (7.0 * r.nrel) / 10.0 - (3.0 * m.msim) / 10.0
           |          DESC, r.doc_id) AS rk
           |    FROM r$t r JOIN m$t m
           |      ON r.query_id = m.query_id AND r.doc_id = m.doc_id) z
           |  WHERE rk = 1),
           |sl$t AS (
           |  SELECT query_id, doc_id FROM ${if (t == 2) "s1"
             else s"sl${t - 1}"}
           |  UNION ALL SELECT query_id, doc_id FROM p$t),
           |r${t + 1} AS (
           |  SELECT r$t.* FROM r$t ANTI JOIN p$t
           |    USING (query_id, doc_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (
         |  SELECT doc_id, t AS term FROM (
         |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
         |    FROM documents) u
         |  WHERE t <> ''),
         |tf AS (SELECT doc_id, term, count(*) AS tf
         |       FROM toks GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |stats AS (
         |  SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
         |    CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
         |      / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |q(query_id, term) AS (VALUES
         |  (1, 'spark'), (1, 'join'), (1, 'window'),
         |  (2, 'hash'), (2, 'table'), (2, 'scan'),
         |  (3, 'customer'), (3, 'order'), (3, 'value')),
         |scored AS (
         |  SELECT q.query_id, tf.doc_id,
         |    CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         |         * ((tf * (1.0 + CAST(1.2 AS DOUBLE)))
         |            / (tf + CAST(1.2 AS DOUBLE)
         |               * (0.25 + 0.75 * dl / avgdl)))
         |         * 1000000) AS BIGINT) AS w
         |  FROM q JOIN dfreq USING (term) JOIN tf USING (term)
         |    JOIN dl USING (doc_id)
         |  CROSS JOIN stats),
         |agg AS (
         |  SELECT query_id, doc_id, CAST(sum(w) AS BIGINT) AS score_scaled
         |  FROM scored GROUP BY query_id, doc_id),
         |cand AS (
         |  SELECT query_id, doc_id, score_scaled FROM (
         |    SELECT query_id, doc_id, score_scaled,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score_scaled DESC, doc_id) AS rk
         |    FROM agg) t WHERE rk <= 8),
         |relm AS (
         |  SELECT query_id, max(score_scaled) AS relmax
         |  FROM cand GROUP BY query_id),
         |nr AS (
         |  SELECT c.query_id, c.doc_id, c.score_scaled,
         |    CAST(c.score_scaled AS DOUBLE) / CAST(r.relmax AS DOUBLE)
         |      AS nrel
         |  FROM cand c JOIN relm r ON c.query_id = r.query_id),
         |cd AS (SELECT DISTINCT doc_id FROM cand),
         |gw AS (
         |  SELECT d.doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
         |      AS ws
         |  FROM documents d JOIN cd ON d.doc_id = cd.doc_id),
         |g AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id,
         |      unnest([array_to_string(ws[i:i+2], ' ')
         |              FOR i IN range(1, len(ws) - 3 + 1 + 1)]) AS g
         |    FROM gw WHERE len(ws) >= 3) z),
         |sz AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
         |it AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ps AS (
         |  SELECT da, db,
         |    CAST(i AS DOUBLE) / CAST(sa.ng + sb.ng - i AS DOUBLE) AS sim
         |  FROM it JOIN sz sa ON sa.doc_id = da
         |  JOIN sz sb ON sb.doc_id = db),
         |s1 AS (
         |  SELECT query_id, doc_id, score_scaled, 1 AS rank FROM (
         |    SELECT nr.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY nrel DESC, doc_id) AS rk FROM nr) z WHERE rk = 1),
         |r2 AS (SELECT nr.* FROM nr ANTI JOIN s1 USING (query_id, doc_id)),
         |$rounds
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  CAST(rank AS INT) AS rank, score_scaled
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM p2
         |      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4) f
         |ORDER BY query_id, rank""".stripMargin
    },

    // exact decimal moment sums, then one fixed double program per output
    // (div/sqrt are correctly-rounded IEEE ops → bit-identical replay)
    "lr01_linear_fit" ->
      """WITH sums AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_discount AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_discount AS DECIMAL(18,2))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_discount AS DECIMAL(18,2))
        |        * CAST(l_discount AS DECIMAL(18,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n, sx, sy,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
        |  FROM sums)
        |SELECT l_returnflag, n,
        |  num / sqrt(dx * dy) AS corr_r,
        |  num / dx AS slope,
        |  (CAST(sy AS DOUBLE) - (num / dx) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept
        |FROM d ORDER BY l_returnflag""".stripMargin,

    // KMV replay: the splitmix64 chain is the st01/ss01 UHUGEINT program;
    // (k-1)·2^63 is small-int × power-of-two (exactly representable) and
    // the final division is one correctly-rounded IEEE op → bit-identical
    "kv01_kmv_distinct" ->
      """WITH base AS (
        |  SELECT event_type AS grp, event_id FROM events
        |  UNION ALL SELECT 'ALL', event_id FROM events),
        |m AS (
        |  SELECT DISTINCT grp, xor(p2, p2 >> 31) >> 1 AS h FROM (
        |    SELECT grp,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT grp,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT grp, CAST(event_id AS UHUGEINT) AS p0
        |            FROM base) a) b) c),
        |r AS (
        |  SELECT grp, h,
        |    row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |  FROM m),
        |kept AS (
        |  SELECT grp, count(*) AS n_kept,
        |    max(CASE WHEN rn = 64 THEN h END) AS hk
        |  FROM r WHERE rn <= 64 GROUP BY grp),
        |ex AS (
        |  SELECT grp, count(DISTINCT event_id) AS n_exact
        |  FROM base GROUP BY grp)
        |SELECT grp, n_exact, n_kept,
        |  CASE WHEN hk IS NULL THEN CAST(n_kept AS DOUBLE)
        |       ELSE (63.0 * 9.223372036854775808e18) / CAST(hk AS DOUBLE)
        |  END AS estimate
        |FROM ex JOIN kept USING (grp) ORDER BY grp""".stripMargin,

    // HLL replay (p=6, m=64, K=59): same mix64 chain, register = top 6
    // bits, rho via length(bin(tail)) — NO float log2; harmonic sum as
    // the exact integer Σ 2^(59−rho) (sum(BIGINT) → HUGEINT), absent
    // registers contribute 2^59; VARCHAR-routed HUGEINT→DOUBLE (the lr02
    // rule); α·m²·2^59 written as the same left-assoc double chain Spark
    // folds; linear-counting branch below 2.5m with V>0
    "hl01_hll_distinct" ->
      """WITH base AS (
        |  SELECT event_type AS grp, event_id AS k FROM events
        |  UNION ALL SELECT 'USERS', user_id FROM events),
        |m AS (
        |  SELECT grp, xor(p2, p2 >> 31) AS h FROM (
        |    SELECT grp,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT grp,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT grp, CAST(k AS UHUGEINT) AS p0 FROM base) a) b) c),
        |regs AS (
        |  SELECT grp, CAST(h >> 58 AS BIGINT) AS register,
        |    max(CASE WHEN h % CAST(288230376151711744 AS UHUGEINT) = 0 THEN 59
        |         ELSE 59 - length(bin(CAST(
        |           h % CAST(288230376151711744 AS UHUGEINT) AS BIGINT)))
        |        END) AS rho
        |  FROM m GROUP BY 1, 2),
        |agg AS (
        |  SELECT grp, count(*) AS nreg,
        |    sum(CAST(1 AS BIGINT) << (59 - rho)) AS spart
        |  FROM regs GROUP BY grp),
        |sv AS (
        |  SELECT grp, 64 - nreg AS n_zero_registers,
        |    spart + CAST(64 - nreg AS HUGEINT)
        |            * CAST(576460752303423488 AS HUGEINT) AS s
        |  FROM agg),
        |er AS (
        |  SELECT grp, n_zero_registers,
        |    0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0 * 576460752303423488.0
        |      / CAST(CAST(s AS VARCHAR) AS DOUBLE) AS eraw
        |  FROM sv),
        |fin AS (
        |  SELECT grp, n_zero_registers,
        |    CAST(floor(CASE WHEN eraw <= 160.0 AND n_zero_registers > 0
        |      THEN 64.0 * ln(64.0 / CAST(n_zero_registers AS DOUBLE))
        |      ELSE eraw END) AS BIGINT) AS est_distinct
        |  FROM er),
        |ex AS (SELECT grp, count(DISTINCT k) AS n_exact FROM base GROUP BY grp)
        |SELECT grp, n_exact, n_zero_registers, est_distinct
        |FROM ex JOIN fin USING (grp) ORDER BY grp""".stripMargin,

    // qs01 replay: the decimal bucket program in SQL string ops, window
    // cumulative counts over the bucket table, ceil-rank election by
    // arg_min over the (blen, bkey)-encoded bucket code
    "qs01_quantile_sketch" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (
        |  SELECT length(CAST(cents AS VARCHAR)) AS blen,
        |    CAST(substr(CAST(cents AS VARCHAR), 1, 3) AS BIGINT) AS bkey,
        |    count(*) AS cnt
        |  FROM v GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b),
        |c AS (
        |  SELECT blen, bkey, cnt,
        |    sum(cnt) OVER (ORDER BY blen, bkey) AS cum,
        |    CAST(CAST(bkey AS VARCHAR) || repeat('0',
        |        CAST(blen - length(CAST(bkey AS VARCHAR)) AS INT))
        |      AS BIGINT) AS est,
        |    blen * 1000 + bkey AS code
        |  FROM b),
        |q AS (SELECT * FROM (VALUES (10), (250), (500), (750), (900),
        |  (990)) AS qs(q_milli)),
        |r AS (SELECT q_milli, n,
        |  greatest(1, (q_milli * n + 999) // 1000) AS rnk FROM q, t)
        |SELECT CAST(q_milli AS BIGINT) AS q_milli, n,
        |  CAST(rnk AS BIGINT) AS rank,
        |  CAST(arg_min(est, code) AS BIGINT) AS est
        |FROM c JOIN r ON c.cum >= r.rnk
        |GROUP BY q_milli, n, rnk
        |ORDER BY q_milli""".stripMargin,

    // qs02 replay: the WHOLE-data program — merged shard sketches must be
    // indistinguishable from sketching everything at once
    "qs02_sketch_merge" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (
        |  SELECT length(CAST(cents AS VARCHAR)) AS blen,
        |    CAST(substr(CAST(cents AS VARCHAR), 1, 3) AS BIGINT) AS bkey,
        |    count(*) AS cnt
        |  FROM v GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b),
        |c AS (
        |  SELECT blen, bkey, cnt,
        |    sum(cnt) OVER (ORDER BY blen, bkey) AS cum,
        |    CAST(CAST(bkey AS VARCHAR) || repeat('0',
        |        CAST(blen - length(CAST(bkey AS VARCHAR)) AS INT))
        |      AS BIGINT) AS est,
        |    blen * 1000 + bkey AS code
        |  FROM b),
        |q AS (SELECT * FROM (VALUES (250), (500), (750)) AS qs(q_milli)),
        |r AS (SELECT q_milli, n,
        |  greatest(1, (q_milli * n + 999) // 1000) AS rnk FROM q, t)
        |SELECT CAST(q_milli AS BIGINT) AS q_milli, n,
        |  CAST(rnk AS BIGINT) AS rank,
        |  CAST(arg_min(est, code) AS BIGINT) AS est
        |FROM c JOIN r ON c.cum >= r.rnk
        |GROUP BY q_milli, n, rnk
        |ORDER BY q_milli""".stripMargin,

    // qs03 replay: qs01's program with every window/total PARTITIONED BY
    // the group key
    "qs03_group_quantile_sketch" ->
      """WITH v AS (
        |  SELECT o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (
        |  SELECT o_orderstatus, length(CAST(cents AS VARCHAR)) AS blen,
        |    CAST(substr(CAST(cents AS VARCHAR), 1, 3) AS BIGINT) AS bkey,
        |    count(*) AS cnt
        |  FROM v GROUP BY 1, 2, 3),
        |t AS (SELECT o_orderstatus, CAST(sum(cnt) AS BIGINT) AS n
        |      FROM b GROUP BY 1),
        |c AS (
        |  SELECT o_orderstatus, blen, bkey,
        |    sum(cnt) OVER (PARTITION BY o_orderstatus
        |      ORDER BY blen, bkey) AS cum,
        |    CAST(CAST(bkey AS VARCHAR) || repeat('0',
        |        CAST(blen - length(CAST(bkey AS VARCHAR)) AS INT))
        |      AS BIGINT) AS est,
        |    blen * 1000 + bkey AS code
        |  FROM b),
        |q AS (SELECT * FROM (VALUES (250), (500), (750), (990))
        |  AS qs(q_milli)),
        |r AS (SELECT o_orderstatus, q_milli, n,
        |  greatest(1, (q_milli * n + 999) // 1000) AS rnk FROM q, t)
        |SELECT c.o_orderstatus, CAST(q_milli AS BIGINT) AS q_milli, n,
        |  CAST(rnk AS BIGINT) AS rank,
        |  CAST(arg_min(est, code) AS BIGINT) AS est
        |FROM c JOIN r ON c.o_orderstatus = r.o_orderstatus
        |  AND c.cum >= r.rnk
        |GROUP BY c.o_orderstatus, q_milli, n, rnk
        |ORDER BY c.o_orderstatus, q_milli""".stripMargin,

    // hl02 replay: same register program per epoch-day, prefix merge by
    // the ≤-join over the (days × day-registers) mini-relation, same
    // estimator per day
    "hl02_hll_users_to_date" ->
      """WITH m AS (
        |  SELECT day, xor(p2, p2 >> 31) AS h FROM (
        |    SELECT day,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT day,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |              CAST(user_id AS UHUGEINT) AS p0 FROM events) a) b) c),
        |regs AS (
        |  SELECT day, CAST(h >> 58 AS BIGINT) AS register,
        |    max(CASE WHEN h % CAST(288230376151711744 AS UHUGEINT) = 0 THEN 59
        |         ELSE 59 - length(bin(CAST(
        |           h % CAST(288230376151711744 AS UHUGEINT) AS BIGINT)))
        |        END) AS rho
        |  FROM m GROUP BY 1, 2),
        |cum AS (
        |  SELECT d.day AS day, r.register, max(r.rho) AS rho
        |  FROM (SELECT DISTINCT day FROM regs) d
        |  JOIN regs r ON r.day <= d.day GROUP BY 1, 2),
        |agg AS (
        |  SELECT day, count(*) AS nreg,
        |    sum(CAST(1 AS BIGINT) << (59 - rho)) AS spart
        |  FROM cum GROUP BY day),
        |sv AS (
        |  SELECT day, 64 - nreg AS n_zero_registers,
        |    spart + CAST(64 - nreg AS HUGEINT)
        |            * CAST(576460752303423488 AS HUGEINT) AS s
        |  FROM agg),
        |er AS (
        |  SELECT day, n_zero_registers,
        |    0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0 * 576460752303423488.0
        |      / CAST(CAST(s AS VARCHAR) AS DOUBLE) AS eraw
        |  FROM sv)
        |SELECT day, n_zero_registers,
        |  CAST(floor(CASE WHEN eraw <= 160.0 AND n_zero_registers > 0
        |    THEN 64.0 * ln(64.0 / CAST(n_zero_registers AS DOUBLE))
        |    ELSE eraw END) AS BIGINT) AS est_distinct
        |FROM er ORDER BY day""".stripMargin,

    // chi² replay: per-cell terms quantized to 1e-9 integers BEFORE the
    // total so the statistic is an order-free integer sum
    "ct01_chi_square" ->
      """WITH obs AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS obs
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
        |rt AS (SELECT o_orderstatus, CAST(sum(obs) AS BIGINT) AS rt
        |       FROM obs GROUP BY o_orderstatus),
        |ct AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) AS ct
        |       FROM obs GROUP BY o_orderpriority),
        |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |    count(DISTINCT o_orderstatus) AS nr,
        |    count(DISTINCT o_orderpriority) AS nc
        |  FROM obs),
        |cells AS (
        |  SELECT o.o_orderstatus, o.o_orderpriority, o.obs,
        |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS expected,
        |    CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof
        |  FROM obs o JOIN rt USING (o_orderstatus)
        |    JOIN ct USING (o_orderpriority)
        |  CROSS JOIN tot),
        |t AS (
        |  SELECT o_orderstatus, o_orderpriority, obs, expected,
        |    (CAST(obs AS DOUBLE) - expected) * (CAST(obs AS DOUBLE) - expected)
        |      / expected AS term,
        |    dof
        |  FROM cells)
        |SELECT o_orderstatus, o_orderpriority, obs, expected, term,
        |  CAST(sum(CAST(round(term * 1.0e9) AS BIGINT)) OVER () AS BIGINT)
        |    AS chi2_scaled,
        |  dof
        |FROM t ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "az01_zscore_outliers" ->
      """WITH stats AS (
        |  SELECT c_nationkey, count(*) AS zn,
        |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS zsx,
        |    sum(CAST(c_acctbal AS DECIMAL(18,2))
        |        * CAST(c_acctbal AS DECIMAL(18,2))) AS zsxx
        |  FROM customer GROUP BY c_nationkey HAVING count(*) > 1),
        |st2 AS (
        |  SELECT c_nationkey,
        |    CAST(zsx AS DOUBLE) / CAST(zn AS DOUBLE) AS mean,
        |    sqrt((CAST(zn AS DOUBLE) * CAST(zsxx AS DOUBLE)
        |          - CAST(zsx AS DOUBLE) * CAST(zsx AS DOUBLE))
        |         / (CAST(zn AS DOUBLE) * (CAST(zn AS DOUBLE) - 1.0))) AS std
        |  FROM stats)
        |SELECT c_custkey, c.c_nationkey, c_acctbal,
        |  (c_acctbal - mean) / std AS z
        |FROM customer c JOIN st2 ON c.c_nationkey = st2.c_nationkey
        |WHERE abs((c_acctbal - mean) / std) > 1.6
        |ORDER BY c_custkey""".stripMargin,

    "ma01_moving_average" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS dsum
        |  FROM orders GROUP BY day)
        |SELECT day, CAST(dsum AS DOUBLE) AS revenue,
        |  CAST(sum(dsum) OVER w AS DOUBLE)
        |    / CAST(count(dsum) OVER w AS DOUBLE) AS mov_avg
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,

    "rc01_copurchase_topk" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS item, b.l_partkey AS co_item,
        |    count(*) AS n_baskets
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey <> b.l_partkey
        |  GROUP BY item, co_item)
        |SELECT item, co_item, n_baskets, rank FROM (
        |  SELECT item, co_item, n_baskets,
        |    CAST(row_number() OVER (PARTITION BY item
        |      ORDER BY n_baskets DESC, co_item) AS INTEGER) AS rank
        |  FROM pairs) t
        |WHERE rank <= 3 ORDER BY item, rank""".stripMargin,

    "tm01_event_transitions" ->
      """WITH steps AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM events),
        |cnt AS (
        |  SELECT from_state, to_state, count(*) AS n
        |  FROM steps WHERE to_state IS NOT NULL
        |  GROUP BY from_state, to_state)
        |SELECT from_state, to_state, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE) AS prob
        |FROM cnt ORDER BY from_state, to_state""".stripMargin,

    "dq01_quality_report" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM orders)
        |SELECT * FROM (
        |  SELECT 'totalprice_nonneg' AS "check", n_rows,
        |    (SELECT count(*) FROM orders
        |     WHERE NOT coalesce(o_totalprice >= 0, FALSE)) AS n_violations
        |  FROM n
        |  UNION ALL SELECT 'totalprice_under_500k', n_rows,
        |    (SELECT count(*) FROM orders
        |     WHERE NOT coalesce(o_totalprice < 500000.0, FALSE)) FROM n
        |  UNION ALL SELECT 'orderdate_not_null', n_rows,
        |    (SELECT count(*) FROM orders
        |     WHERE NOT coalesce(o_orderdate IS NOT NULL, FALSE)) FROM n
        |  UNION ALL SELECT 'status_in_domain', n_rows,
        |    (SELECT count(*) FROM orders
        |     WHERE NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE)) FROM n
        |  UNION ALL SELECT 'orderkey_unique', n_rows,
        |    n_rows - (SELECT count(DISTINCT o_orderkey) FROM orders) FROM n
        |  UNION ALL SELECT 'custkey_in_customer', n_rows,
        |    (SELECT count(*) FROM orders o
        |     WHERE o_custkey IS NULL
        |        OR o_custkey NOT IN (SELECT c_custkey FROM customer)) FROM n
        |) t ORDER BY "check"""".stripMargin,

    "cd01_cdc_latest_state" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // KMV set-algebra replay: same mix chain, the per-pair union hash set
    // is the k-min of the concatenation, inclusion–exclusion in one fixed
    // double program
    "kv02_kmv_setops" ->
      """WITH m AS (
        |  SELECT DISTINCT g, xor(p2, p2 >> 31) >> 1 AS h FROM (
        |    SELECT g,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT g,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT o_orderpriority AS g,
        |              CAST(o_custkey AS UHUGEINT) AS p0
        |            FROM orders) a) b) c),
        |single AS (
        |  SELECT g, count(*) AS n_kept,
        |    max(CASE WHEN rn = 128 THEN h END) AS hk FROM (
        |    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
        |    FROM m) r
        |  WHERE rn <= 128 GROUP BY g),
        |se AS (
        |  SELECT g, CASE WHEN hk IS NULL THEN CAST(n_kept AS DOUBLE)
        |      ELSE (127.0 * 9.223372036854775808e18) / CAST(hk AS DOUBLE)
        |    END AS est
        |  FROM single),
        |gs AS (SELECT DISTINCT g FROM m),
        |pairs AS (
        |  SELECT a.g AS g_a, b.g AS g_b FROM gs a, gs b WHERE a.g < b.g),
        |ph AS (
        |  SELECT DISTINCT g_a, g_b, h
        |  FROM pairs p JOIN m ON m.g = p.g_a OR m.g = p.g_b),
        |u AS (
        |  SELECT g_a, g_b, count(*) AS n_kept,
        |    max(CASE WHEN rn = 128 THEN h END) AS hk FROM (
        |    SELECT g_a, g_b, h,
        |      row_number() OVER (PARTITION BY g_a, g_b ORDER BY h) AS rn
        |    FROM ph) r
        |  WHERE rn <= 128 GROUP BY g_a, g_b),
        |ue AS (
        |  SELECT g_a, g_b, CASE WHEN hk IS NULL THEN CAST(n_kept AS DOUBLE)
        |      ELSE (127.0 * 9.223372036854775808e18) / CAST(hk AS DOUBLE)
        |    END AS est_union
        |  FROM u)
        |SELECT ue.g_a, ue.g_b, sa.est AS est_a, sb.est AS est_b, est_union,
        |  (sa.est + sb.est) - est_union AS est_intersect,
        |  ((sa.est + sb.est) - est_union) / est_union AS jaccard_est
        |FROM ue JOIN se sa ON sa.g = ue.g_a JOIN se sb ON sb.g = ue.g_b
        |ORDER BY g_a, g_b""".stripMargin,

    "gf01_gap_fill_ffill" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders WHERE o_orderstatus = 'P' GROUP BY day),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        |    AS day
        |  FROM b)
        |SELECT s.day, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(last_value(rev IGNORE NULLS) OVER (ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS filled,
        |  rev IS NULL AS is_gap
        |FROM spine s LEFT JOIN daily d ON s.day = d.day
        |ORDER BY s.day""".stripMargin,

    // MAD replay: identical integer rank selection (`1 + (50·(n−1))//100`)
    // for both medians, pure integer cut — float-free end to end
    "az02_mad_outliers" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS grp, o_orderkey AS id,
        |    CAST(round(o_totalprice * 1000) AS BIGINT) AS val
        |  FROM orders),
        |r AS (
        |  SELECT grp, id, val,
        |    row_number() OVER (PARTITION BY grp ORDER BY val, id) AS rnv,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM v),
        |m AS (
        |  SELECT *, max(CASE WHEN rnv = 1 + (50 * (n - 1)) // 100
        |    THEN val END) OVER (PARTITION BY grp) AS med FROM r),
        |d2 AS (SELECT *, abs(val - med) AS dev FROM m),
        |r2 AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY grp ORDER BY dev, id) AS rnd
        |  FROM d2),
        |m2 AS (
        |  SELECT *, max(CASE WHEN rnd = 1 + (50 * (n - 1)) // 100
        |    THEN dev END) OVER (PARTITION BY grp) AS mad FROM r2)
        |SELECT grp AS o_orderpriority, id AS o_orderkey,
        |  val AS price_milli, med, mad, dev
        |FROM m2 WHERE dev > 2 * mad ORDER BY id""".stripMargin,

    // quantile-normalize replay: same integer rank mapping and global
    // value index
    "qn01_quantile_normalize" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS ng,
        |    count(*) OVER () AS N
        |  FROM documents),
        |m AS (
        |  SELECT source, doc_id, n_chars,
        |    CASE WHEN ng > 1
        |      THEN 1 + ((r - 1) * (N - 1)) // (ng - 1)
        |      ELSE 1 + (N - 1) // 2 END AS gr
        |  FROM r),
        |g AS (
        |  SELECT n_chars AS gv,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS gr
        |  FROM documents)
        |SELECT m.source, m.doc_id, m.n_chars, g.gv AS normalized
        |FROM m JOIN g ON m.gr = g.gr ORDER BY m.doc_id""".stripMargin,

    // anomaly-days replay: sz01's profile chain into az02's MAD chain
    "ad01_anomalous_days" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY day),
        |dd AS (
        |  SELECT day,
        |    (date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS dow, rev
        |  FROM daily),
        |p AS (
        |  SELECT dow,
        |    CAST(sum(rev) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS profile
        |  FROM dd GROUP BY dow),
        |res AS (
        |  SELECT dd.day,
        |    CAST(round((CAST(dd.rev AS DOUBLE) - p.profile) * 1000)
        |      AS BIGINT) AS val
        |  FROM dd JOIN p ON dd.dow = p.dow),
        |r AS (
        |  SELECT day, val,
        |    row_number() OVER (ORDER BY val, day) AS rnv,
        |    count(*) OVER () AS n
        |  FROM res),
        |m AS (
        |  SELECT *, max(CASE WHEN rnv = 1 + (50 * (n - 1)) // 100
        |    THEN val END) OVER () AS med FROM r),
        |d2 AS (SELECT *, abs(val - med) AS dev FROM m),
        |r2 AS (
        |  SELECT *, row_number() OVER (ORDER BY dev, day) AS rnd FROM d2),
        |m2 AS (
        |  SELECT *, max(CASE WHEN rnd = 1 + (50 * (n - 1)) // 100
        |    THEN dev END) OVER () AS mad FROM r2)
        |SELECT day, val AS resid_milli, med, mad, dev
        |FROM m2 WHERE dev > 4 * mad ORDER BY day""".stripMargin,

    // PSI replay: identical bin program, smoothing, term, scaled sum
    "ps01_psi_drift" ->
      """WITH a AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE CAST(o_orderdate AS DATE) < DATE '1996-07-01'),
        |b AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'),
        |bins AS (SELECT unnest(range(0, 10)) AS bin),
        |ha AS (
        |  SELECT least(9, greatest(0,
        |    CAST(floor((v - 0.0) / 600000.0 * 10) AS BIGINT))) AS bin,
        |    count(*) AS ca
        |  FROM a GROUP BY 1),
        |hb AS (
        |  SELECT least(9, greatest(0,
        |    CAST(floor((v - 0.0) / 600000.0 * 10) AS BIGINT))) AS bin,
        |    count(*) AS cb
        |  FROM b GROUP BY 1),
        |j AS (
        |  SELECT bins.bin, coalesce(ca, 0) AS cnt_a, coalesce(cb, 0) AS cnt_b
        |  FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)),
        |t AS (
        |  SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
        |    CAST(sum(cnt_b) AS BIGINT) AS nb
        |  FROM j),
        |p AS (
        |  SELECT bin, cnt_a, cnt_b,
        |    CAST(cnt_a + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE) AS pa,
        |    CAST(cnt_b + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE) AS pb
        |  FROM j, t),
        |q AS (SELECT *, (pa - pb) * ln(pa / pb) AS term FROM p)
        |SELECT bin, CAST(cnt_a AS BIGINT) AS cnt_a,
        |  CAST(cnt_b AS BIGINT) AS cnt_b, pa, pb, term,
        |  CAST(sum(CAST(round(term * 1.0e9) AS BIGINT)) OVER () AS BIGINT)
        |    AS psi_scaled
        |FROM q ORDER BY bin""".stripMargin,

    // skew-profile replay: same counts, totals, integer permille/salt
    "sk02_skew_profile" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        |t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS n_keys
        |  FROM c),
        |top AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 10)
        |SELECT word, cnt, n_total, n_keys,
        |  (cnt * 1000) // n_total AS permille,
        |  (cnt * n_keys + n_total - 1) // n_total AS suggested_salt
        |FROM top, t ORDER BY cnt DESC, word""".stripMargin,

    // winsorize replay: same single value-ordered window, same integer
    // rank bounds, same clip
    "wz01_winsorize_balances" ->
      """WITH v AS (
        |  SELECT c_mktsegment AS g, c_custkey AS id,
        |    CAST(round(c_acctbal * 1000) AS BIGINT) AS bal_milli
        |  FROM customer),
        |r AS (
        |  SELECT g, id, bal_milli,
        |    row_number() OVER (PARTITION BY g ORDER BY bal_milli, id) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM v),
        |b AS (
        |  SELECT *,
        |    max(CASE WHEN rn = 1 + (10 * (n - 1)) // 100
        |      THEN bal_milli END) OVER (PARTITION BY g) AS lo,
        |    max(CASE WHEN rn = 1 + (90 * (n - 1)) // 100
        |      THEN bal_milli END) OVER (PARTITION BY g) AS hi
        |  FROM r)
        |SELECT g AS c_mktsegment, id AS c_custkey, bal_milli, lo, hi,
        |  greatest(lo, least(hi, bal_milli)) AS clipped,
        |  greatest(lo, least(hi, bal_milli)) <> bal_milli AS was_clipped
        |FROM b ORDER BY id""".stripMargin,

    // weekday-profile replay: epoch-day dow, exact decimal sums, one
    // division + one subtraction
    "sz01_weekday_profile" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY day),
        |d AS (
        |  SELECT day,
        |    (date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS dow,
        |    rev
        |  FROM daily),
        |p AS (
        |  SELECT dow,
        |    CAST(sum(rev) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS profile
        |  FROM d GROUP BY dow)
        |SELECT d.day, CAST(d.dow AS INT) AS dow,
        |  CAST(d.rev AS DOUBLE) AS revenue, p.profile,
        |  CAST(d.rev AS DOUBLE) - p.profile AS residual
        |FROM d JOIN p ON d.dow = p.dow ORDER BY d.day""".stripMargin,

    // two-feature regression replay: identical decimal moments, identical
    // staged double program (token-for-token with linearFit2)
    "lr02_linear_fit2" ->
      """WITH f AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS sum_qty,
        |    count(*) AS n_items
        |  FROM lineitem GROUP BY l_orderkey),
        |j AS (
        |  SELECT o_orderpriority AS k,
        |    CAST(sum_qty AS DECIMAL(18,2)) AS x1,
        |    CAST(n_items AS DECIMAL(18,2)) AS x2,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS y
        |  FROM orders JOIN f ON o_orderkey = l_orderkey),
        |m AS (
        |  -- decimal -> double goes THROUGH VARCHAR: DuckDB's direct
        |  -- wide-DECIMAL cast is not correctly rounded once the scaled
        |  -- integer exceeds 2^53 (observed 1-ulp drift on sum(y*y)),
        |  -- while strtod and Spark's BigDecimal.doubleValue both are
        |  SELECT k, count(*) AS n,
        |    CAST(count(*) AS DOUBLE) AS dn,
        |    CAST(CAST(sum(x1) AS VARCHAR) AS DOUBLE) AS d1,
        |    CAST(CAST(sum(x2) AS VARCHAR) AS DOUBLE) AS d2,
        |    CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS dy,
        |    CAST(CAST(sum(x1 * x1) AS VARCHAR) AS DOUBLE) AS d11,
        |    CAST(CAST(sum(x2 * x2) AS VARCHAR) AS DOUBLE) AS d22,
        |    CAST(CAST(sum(x1 * x2) AS VARCHAR) AS DOUBLE) AS d12,
        |    CAST(CAST(sum(x1 * y) AS VARCHAR) AS DOUBLE) AS d1y,
        |    CAST(CAST(sum(x2 * y) AS VARCHAR) AS DOUBLE) AS d2y,
        |    CAST(CAST(sum(y * y) AS VARCHAR) AS DOUBLE) AS dyy
        |  FROM j GROUP BY k),
        |a AS (
        |  SELECT k, n, dn, d1, d2, dy,
        |    dn * d11 - d1 * d1 AS a11, dn * d22 - d2 * d2 AS a22,
        |    dn * d12 - d1 * d2 AS a12,
        |    dn * d1y - d1 * dy AS b1v, dn * d2y - d2 * dy AS b2v,
        |    dn * dyy - dy * dy AS sst
        |  FROM m),
        |dt AS (SELECT *, a11 * a22 - a12 * a12 AS det FROM a),
        |bet AS (
        |  SELECT k, n, dn, d1, d2, dy, b1v, b2v, sst,
        |    CASE WHEN det <> 0.0
        |      THEN (b1v * a22 - b2v * a12) / det END AS beta1,
        |    CASE WHEN det <> 0.0
        |      THEN (b2v * a11 - b1v * a12) / det END AS beta2
        |  FROM dt)
        |SELECT k AS o_orderpriority, n,
        |  (dy - beta1 * d1 - beta2 * d2) / dn AS beta0, beta1, beta2,
        |  CASE WHEN sst <> 0.0
        |    THEN (beta1 * b1v + beta2 * b2v) / sst END AS r2
        |FROM bet ORDER BY o_orderpriority""".stripMargin,

    // snapshot-diff replay: one full outer join, null-safe comparisons
    "df01_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 1000) AS BIGINT) AS pm,
        |    o_orderstatus AS st
        |  FROM orders),
        |o AS (SELECT * FROM base WHERE k % 5 <> 0),
        |n AS (
        |  SELECT k, CASE WHEN k % 3 = 0 THEN pm + 500 ELSE pm END AS pm, st
        |  FROM base WHERE k % 7 <> 0),
        |d AS (
        |  SELECT coalesce(o.k, n.k) AS o_orderkey,
        |    o.pm AS old_price_milli, o.st AS old_o_orderstatus,
        |    n.pm AS new_price_milli, n.st AS new_o_orderstatus,
        |    CASE WHEN o.k IS NULL THEN 'added'
        |         WHEN n.k IS NULL THEN 'removed'
        |         WHEN o.pm IS DISTINCT FROM n.pm
        |           OR o.st IS DISTINCT FROM n.st THEN 'changed' END AS change
        |  FROM o FULL OUTER JOIN n ON o.k = n.k)
        |SELECT * FROM d WHERE change IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    // EWMA replay: same bounded frame list, same exact-by-construction
    // terms (long / power-of-two); list_sum order is irrelevant because
    // no term ever rounds
    "ew01_ewma_values" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 1000) AS BIGINT) AS val_milli
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id, val_milli,
        |    list(val_milli) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst
        |  FROM v)
        |SELECT user_id, event_id, val_milli,
        |  list_sum([lst[i] / CAST(1 << (len(lst) - i + 1) AS DOUBLE)
        |            FOR i IN range(1, len(lst) + 1)]) AS ewma_milli
        |FROM l ORDER BY user_id, event_id""".stripMargin,

    // kappa replay: integer counts, one exact division
    // (n·agree − Σ na·nb) / (n² − Σ na·nb); NULL when chance is perfect
    "ia01_cohens_kappa" ->
      """WITH l AS (
        |  SELECT lang,
        |    CASE WHEN n_chars < 220 THEN 'short'
        |         WHEN n_chars < 420 THEN 'med' ELSE 'long' END AS ra,
        |    CASE WHEN length(text) - length(replace(text, '.', '')) < 3
        |           THEN 'short'
        |         WHEN length(text) - length(replace(text, '.', '')) < 6
        |           THEN 'med' ELSE 'long' END AS rb
        |  FROM documents),
        |base AS (
        |  SELECT lang, count(*) AS n,
        |    CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM l GROUP BY lang),
        |ma AS (SELECT lang, ra AS lbl, count(*) AS na FROM l GROUP BY 1, 2),
        |mb AS (SELECT lang, rb AS lbl, count(*) AS nb FROM l GROUP BY 1, 2),
        |chance AS (
        |  SELECT ma.lang, CAST(sum(na * nb) AS BIGINT) AS sab
        |  FROM ma JOIN mb ON ma.lang = mb.lang AND ma.lbl = mb.lbl
        |  GROUP BY ma.lang)
        |SELECT b.lang, b.n, b.n_agree,
        |  CASE WHEN b.n * b.n <> c.sab
        |    THEN CAST(b.n * b.n_agree - c.sab AS DOUBLE)
        |         / CAST(b.n * b.n - c.sab AS DOUBLE) END AS kappa
        |FROM base b JOIN chance c ON b.lang = c.lang
        |ORDER BY b.lang""".stripMargin,

    // qd01 replay: the sorted-rank DEFINITION of the percentile (rank =
    // 1 + (p·(n−1)) div 100, lower selection) that the bisection passes
    // must land on exactly
    "qd01_exact_quantiles" ->
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 1000) AS BIGINT) AS pm
        |  FROM lineitem),
        |r AS (
        |  SELECT pm, row_number() OVER (ORDER BY pm) AS rn,
        |    count(*) OVER () AS n
        |  FROM v)
        |SELECT CAST(p AS INTEGER) AS pct, pm AS value
        |FROM r JOIN (VALUES (1), (25), (50), (75), (99)) t(p)
        |  ON rn = 1 + (p * (n - 1)) // 100
        |ORDER BY pct""".stripMargin,

    // qd03 replay: the weighted sorted-rank definition — smallest value
    // whose cumulative weight reaches 1 + (p·(W−1)) div 100
    "qd03_weighted_quantiles" ->
      """WITH v AS (
        |  SELECT n_chars AS doc_len,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM v),
        |r AS (
        |  SELECT doc_len,
        |    CAST(sum(w) OVER (ORDER BY doc_len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cw
        |  FROM v)
        |SELECT CAST(p AS INTEGER) AS pct,
        |  (SELECT min(doc_len) FROM r
        |   WHERE cw >= 1 + (p * (tot.tw - 1)) // 100) AS value
        |FROM (VALUES (10), (50), (90)) t(p), tot
        |ORDER BY pct""".stripMargin,

    // tl01 replay: same union-sort program — outcomes ordered before
    // activities at equal ts, min over the rows-following frame
    "tl01_timetravel_labels" ->
      """WITH u AS (
        |  SELECT user_id AS k, ts, event_id AS id, 1 AS tag
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, ts, NULL, 0 FROM events
        |  WHERE event_type = 'purchase'),
        |x AS (
        |  SELECT k, ts, id, tag,
        |    min(CASE WHEN tag = 0 THEN ts END) OVER (
        |      PARTITION BY k ORDER BY ts, tag
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        |  FROM u)
        |SELECT k AS user_id, id AS event_id, ts, nxt AS next_outcome_ts,
        |  (nxt IS NOT NULL AND nxt <= ts + to_seconds(CAST(2592000 AS BIGINT)))
        |    AS label
        |FROM x WHERE tag = 1 ORDER BY event_id""".stripMargin,

    // Benford replay: leading digit off the exact integer string,
    // integer ppm shares, micro-rounded log10 expectation
    "bd01_benford_digits" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 1000)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE CAST(round(o_totalprice * 1000) AS BIGINT) > 0),
        |g AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit)
        |SELECT digit, n_obs,
        |  CAST((1000000 * n_obs) // (SELECT sum(n_obs) FROM g) AS BIGINT)
        |    AS obs_ppm,
        |  CAST(round(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT)
        |    AS exp_ppm
        |FROM g ORDER BY digit""".stripMargin,

    // qd02 replay: the per-group sorted-rank definition (qt01's program
    // at milli quantization) the shared bisection must land on
    "qd02_group_quantiles_bisect" ->
      """WITH v AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 1000) AS BIGINT) AS pm
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, pm,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY pm) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM v)
        |SELECT l_returnflag, CAST(p AS INTEGER) AS pct, pm AS value
        |FROM r JOIN (VALUES (25), (50), (75)) t(p)
        |  ON rn = 1 + (p * (n - 1)) // 100
        |ORDER BY l_returnflag, pct""".stripMargin,

    // Welch replay: exact DECIMAL moments (VARCHAR-routed double cast —
    // the lr02 finding), then the identical fixed program for s²/n, t,
    // and the Welch–Satterthwaite df
    "ab01_welch_ttest" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS k, o_orderstatus AS arm, count(*) AS n,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS s,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
        |                  * CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS ss
        |  FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 1, 2),
        |a AS (SELECT k, n AS n_a, s AS sa, ss AS ssa FROM m WHERE arm = 'O'),
        |b AS (SELECT k, n AS n_b, s AS sb, ss AS ssb FROM m WHERE arm = 'F'),
        |j AS (
        |  SELECT k, n_a, sa, n_b, sb,
        |    ((ssa - (sa * sa) / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) AS va,
        |    ((ssb - (sb * sb) / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) AS vb
        |  FROM a JOIN b USING (k)),
        |f AS (SELECT *, CASE WHEN n_a >= 2 AND n_b >= 2 THEN va + vb END
        |        AS se2 FROM j)
        |SELECT k AS o_orderpriority,
        |  n_a, sa / CAST(n_a AS DOUBLE) AS mean_a,
        |  n_b, sb / CAST(n_b AS DOUBLE) AS mean_b,
        |  CASE WHEN se2 > 0 THEN
        |    (sa / CAST(n_a AS DOUBLE) - sb / CAST(n_b AS DOUBLE)) / sqrt(se2)
        |  END AS t_stat,
        |  CASE WHEN se2 > 0 THEN
        |    (se2 * se2) / ((va * va) / (CAST(n_a AS DOUBLE) - 1.0)
        |                   + (vb * vb) / (CAST(n_b AS DOUBLE) - 1.0))
        |  END AS welch_df
        |FROM f ORDER BY o_orderpriority""".stripMargin,

    // rl01 replay: the DEFINITION — rank by (key, id), every pair within
    // w positions (the theta join the bucket plan must equal)
    "rl01_sorted_neighborhood" ->
      """WITH r AS (
        |  SELECT p_partkey AS id, p_name AS key,
        |    row_number() OVER (ORDER BY p_name, p_partkey) AS rn
        |  FROM part)
        |SELECT a.id AS a_id, b.id AS b_id, a.key AS a_key, b.key AS b_key,
        |  CAST(b.rn - a.rn AS BIGINT) AS rank_dist
        |FROM r a JOIN r b ON b.rn - a.rn > 0 AND b.rn - a.rn < 5
        |ORDER BY a_id, b_id""".stripMargin,

    // er01 replay: same dirty roster, the rank-window blocking
    // definition, DuckDB's levenshtein (same classic edit distance),
    // recursive transitive closure for components (the dd06 pattern)
    "er01_entity_resolution" ->
      """WITH RECURSIVE base AS (
        |  SELECT p_partkey AS id, p_name AS name FROM part
        |  WHERE p_partkey < 2000),
        |dirty0 AS (
        |  SELECT id, CAST(1 + id % 8 AS INTEGER) AS p
        |  FROM base WHERE id % 3 = 0),
        |dirty AS (
        |  SELECT d.id + 10000000 AS id,
        |    substring(b.name, 1, d.p)
        |      || substring(b.name, d.p + 2, 10000) AS name
        |  FROM dirty0 d JOIN base b ON b.id = d.id),
        |roster AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM dirty),
        |r AS (
        |  SELECT id, name, row_number() OVER (ORDER BY name, id) AS rn
        |  FROM roster),
        |m AS (
        |  SELECT a.id AS ia, b.id AS ib
        |  FROM r a JOIN r b ON b.rn - a.rn > 0 AND b.rn - a.rn < 4
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |edges AS (
        |  SELECT ia AS src, ib AS dst FROM m UNION SELECT ib, ia FROM m),
        |reach AS (
        |  SELECT src AS id, src AS rr FROM edges
        |  UNION
        |  SELECT e.src, x.rr FROM reach x JOIN edges e ON e.dst = x.id),
        |comp AS (SELECT id, min(rr) AS component FROM reach GROUP BY id),
        |sizes AS (
        |  SELECT component, count(*) AS cluster_size
        |  FROM comp GROUP BY component)
        |SELECT s.component, s.cluster_size, ro.name AS rep_name
        |FROM sizes s JOIN roster ro ON ro.id = s.component
        |ORDER BY s.component""".stripMargin,

    // rl02 replay: two rank-window theta joins (name, reversed name),
    // canonicalized union, distinct-pass count
    "rl02_multipass_blocking" ->
      """WITH r1 AS (
        |  SELECT p_partkey AS id,
        |    row_number() OVER (ORDER BY p_name, p_partkey) AS rn
        |  FROM part),
        |r2 AS (
        |  SELECT p_partkey AS id,
        |    row_number() OVER (ORDER BY reverse(p_name), p_partkey) AS rn
        |  FROM part),
        |u AS (
        |  SELECT least(a.id, b.id) AS id_lo, greatest(a.id, b.id) AS id_hi,
        |    0 AS pass
        |  FROM r1 a JOIN r1 b ON b.rn - a.rn > 0 AND b.rn - a.rn < 4
        |  UNION ALL
        |  SELECT least(a.id, b.id), greatest(a.id, b.id), 1
        |  FROM r2 a JOIN r2 b ON b.rn - a.rn > 0 AND b.rn - a.rn < 4)
        |SELECT id_lo, id_hi, count(DISTINCT pass) AS n_passes
        |FROM u GROUP BY id_lo, id_hi
        |ORDER BY id_lo, id_hi""".stripMargin,

    // fc01 replay: same epoch-day dow, integer profile, exact error sums,
    // one final division; lag-7 join excludes unmatched days on both sums
    "fc01_seasonal_backtest" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 1000) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM orders GROUP BY 1),
        |d2 AS (
        |  SELECT day, ((day - DATE '1970-01-01') + 4) % 7 AS dow, v
        |  FROM daily),
        |prof AS (
        |  SELECT dow, CAST(sum(v) // count(*) AS BIGINT) AS fc
        |  FROM d2 WHERE day < DATE '2000-01-01' GROUP BY 1),
    |test AS (
        |  SELECT t.dow AS dow, t.v, l.v AS nv, p.fc
        |  FROM d2 t JOIN d2 l ON l.day = t.day - 7
        |  JOIN prof p ON p.dow = t.dow
        |  WHERE t.day >= DATE '2000-01-01')
        |SELECT dow, count(*) AS n_test,
        |  CAST(sum(abs(v - fc)) AS BIGINT) AS sum_abs_err,
        |  CAST(sum(abs(v - nv)) AS BIGINT) AS sum_abs_naive_err,
        |  CASE WHEN sum(abs(v - nv)) > 0 THEN
        |    CAST(CAST(sum(abs(v - fc)) AS BIGINT) AS DOUBLE)
        |      / CAST(CAST(sum(abs(v - nv)) AS BIGINT) AS DOUBLE) END AS mase
        |FROM test GROUP BY dow ORDER BY dow""".stripMargin,

    // km01 replay: same cohort derivation, reverse-cumulative risk set,
    // micro-rounded ln terms summed as integers, NULL past extinction
    "km01_survival" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tc,
        |    max(ts) AS tlast
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT CASE WHEN tc IS NOT NULL AND tc >= t0
        |      THEN CAST(CAST(tc AS DATE) - CAST(t0 AS DATE) AS BIGINT)
        |      ELSE CAST(CAST(tlast AS DATE) - CAST(t0 AS DATE) AS BIGINT)
        |    END AS t,
        |    (tc IS NOT NULL AND tc >= t0) AS e
        |  FROM f WHERE t0 IS NOT NULL),
        |pt AS (
        |  SELECT t, count(*) AS n,
        |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_events
        |  FROM s GROUP BY t),
        |r AS (
        |  SELECT t, n_events, CAST(sum(n) OVER (ORDER BY t
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |    AS n_risk
        |  FROM pt),
        |ev AS (
        |  SELECT t, n_risk, n_events,
        |    CASE WHEN n_events < n_risk THEN
        |      CAST(round(ln(CAST(n_risk - n_events AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT) END AS term
        |  FROM r WHERE n_events > 0)
        |SELECT t, n_risk, n_events,
        |  CASE WHEN min(CASE WHEN term IS NULL THEN 0 ELSE 1 END)
        |      OVER w = 1
        |    THEN CAST(sum(term) OVER w AS BIGINT) END AS log_surv_micro
        |FROM ev
        |WINDOW w AS (ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY t""".stripMargin,

    // CUSUM replay: the same closed form — prefix sum, then prefix
    // min/max of it in a second window level (integer throughout; sums
    // cast back to BIGINT against DuckDB's HUGEINT widening)
    "cs01_cusum_drift" ->
      """WITH daily AS (
        |  SELECT o_orderpriority, o_orderdate,
        |    CAST(sum(CAST(round(o_totalprice * 1000) AS BIGINT)) AS BIGINT)
        |      AS rev_milli
        |  FROM orders GROUP BY 1, 2),
        |t AS (
        |  SELECT o_orderpriority,
        |    CAST(sum(rev_milli) // count(*) AS BIGINT) AS tgt
        |  FROM daily GROUP BY 1),
        |p AS (
        |  SELECT d.o_orderpriority, d.o_orderdate, d.rev_milli, t.tgt,
        |    CAST(sum(d.rev_milli - t.tgt) OVER (
        |      PARTITION BY d.o_orderpriority ORDER BY d.o_orderdate
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS pp
        |  FROM daily d JOIN t USING (o_orderpriority)),
        |q AS (
        |  SELECT *,
        |    min(pp) OVER w AS pmin, max(pp) OVER w AS pmax
        |  FROM p
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT o_orderpriority, o_orderdate, rev_milli,
        |  pp - least(CAST(0 AS BIGINT), pmin) AS cusum_hi,
        |  greatest(CAST(0 AS BIGINT), pmax) - pp AS cusum_lo,
        |  pp - least(CAST(0 AS BIGINT), pmin) >= tgt * 8 AS alarm_hi,
        |  greatest(CAST(0 AS BIGINT), pmax) - pp >= tgt * 8 AS alarm_lo
        |FROM q ORDER BY o_orderpriority, o_orderdate""".stripMargin,

    // mv02 replay: the full rebuild the delta fold must equal
    "mv02_incremental_join" ->
      """SELECT o_orderkey, o_orderpriority, l_linenumber,
        |  CAST(round(l_quantity * 1000) AS BIGINT) AS qty_milli
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber, qty_milli""".stripMargin,

    // ca01 replay: two filtered integer aggregates full-outer-merged,
    // double share, |delta|-ranked
    "ca01_contribution_analysis" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS seg,
        |    CAST(round(o_totalprice * 1000) AS BIGINT) AS v,
        |    CAST(o_orderdate AS DATE) AS day
        |  FROM orders),
        |b AS (
        |  SELECT seg, CAST(sum(v) AS BIGINT) AS before FROM o
        |  WHERE day BETWEEN DATE '1999-01-01' AND DATE '1999-12-31'
        |  GROUP BY seg),
        |a AS (
        |  SELECT seg, CAST(sum(v) AS BIGINT) AS after FROM o
        |  WHERE day BETWEEN DATE '2000-01-01' AND DATE '2000-12-31'
        |  GROUP BY seg),
        |m AS (
        |  SELECT coalesce(b.seg, a.seg) AS seg,
        |    coalesce(b.before, 0) AS before, coalesce(a.after, 0) AS after
        |  FROM b FULL OUTER JOIN a ON b.seg = a.seg),
        |dd AS (
        |  SELECT seg, before, after, after - before AS delta,
        |    CAST(sum(after - before) OVER () AS BIGINT) AS tot
        |  FROM m)
        |SELECT seg AS o_orderpriority, before, after, delta,
        |  CASE WHEN tot <> 0
        |    THEN CAST(delta AS DOUBLE) / CAST(tot AS DOUBLE) END
        |    AS share_of_delta,
        |  CAST(row_number() OVER (ORDER BY abs(delta) DESC, seg)
        |       AS INTEGER) AS rank
        |FROM dd ORDER BY rank""".stripMargin,

    // bm02 replay: distinct (doc, term) ⨝ query terms, per-(query, doc)
    // hit count equal to the query's term count
    "bm02_boolean_and" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t AS term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '\s+')) AS t
        |    FROM documents) u
        |  WHERE t <> ''),
        |q(query_id, term) AS (VALUES
        |  (1, 'spark'), (1, 'table'),
        |  (2, 'hash'), (2, 'join'), (2, 'scan'),
        |  (3, 'customer'), (3, 'zzz_absent')),
        |n AS (SELECT query_id, count(DISTINCT term) AS nq FROM q GROUP BY 1)
        |SELECT CAST(t.query_id AS BIGINT) AS query_id, t.doc_id
        |FROM (
        |  SELECT q.query_id, toks.doc_id, count(*) AS hits
        |  FROM toks JOIN q ON toks.term = q.term
        |  GROUP BY q.query_id, toks.doc_id) t
        |JOIN n ON n.query_id = t.query_id
        |WHERE t.hits = n.nq
        |ORDER BY query_id, doc_id""".stripMargin,

    // mv03 replay: rebuild over the post-delta state (all orders, the
    // non-deleted lineitems), grouped so duplicate payload tuples carry
    // their multiplicity — z-set semantics on both sides
    "mv03_incremental_join_deletes" ->
      """SELECT o_orderkey, o_orderpriority, l_linenumber,
        |  CAST(round(l_quantity * 1000) AS BIGINT) AS qty_milli,
        |  CAST(count(*) AS BIGINT) AS m
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_orderkey % 7 <> 0
        |GROUP BY o_orderkey, o_orderpriority, l_linenumber,
        |  CAST(round(l_quantity * 1000) AS BIGINT)
        |ORDER BY o_orderkey, l_linenumber, qty_milli""".stripMargin,

    // wd01 replay: the dedupe-then-window definition over observed days
    "wd01_window_distinct" ->
      """WITH kd AS (
        |  SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM kd),
        |x AS (
        |  SELECT d.day AS day, kd.k
        |  FROM kd JOIN days d ON d.day BETWEEN kd.day AND kd.day + 6)
        |SELECT day, count(DISTINCT k) AS n_distinct
        |FROM x GROUP BY day ORDER BY day""".stripMargin,

    // ks01 replay: per-value counts full-outer-merged, running counts in
    // one ordered window, integer cross-multiplied sup-distance
    "ks01_ks_statistic" ->
      """WITH a AS (
        |  SELECT CAST(round(o_totalprice * 1000) AS BIGINT) AS v
        |  FROM orders WHERE o_orderstatus = 'O'),
        |b AS (
        |  SELECT CAST(round(o_totalprice * 1000) AS BIGINT) AS v
        |  FROM orders WHERE o_orderstatus = 'F'),
        |ca AS (SELECT v, count(*) AS ca FROM a GROUP BY v),
        |cb AS (SELECT v, count(*) AS cb FROM b GROUP BY v),
        |m AS (
        |  SELECT coalesce(ca.v, cb.v) AS v,
        |    coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |r AS (
        |  SELECT sum(ca) OVER wd AS cuma, sum(cb) OVER wd AS cumb,
        |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM m
        |  WINDOW wd AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |fin AS (
        |  SELECT CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num
        |  FROM r)
        |SELECT n_a, n_b, ks_num,
        |  CAST(ks_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS ks_stat
        |FROM fin""".stripMargin,

    // ab02 replay: the same 64 splitmix64 re-assignment streams (gs01's
    // UHUGEINT chain, seed = id + i·φ mod 2^64), HUGEINT
    // cross-multiplied extremeness, add-one p-value
    "ab02_randomization_test" ->
      """WITH b AS (
        |  SELECT o_orderkey AS id, o_orderstatus = 'O' AS isa,
        |    CAST(round(o_totalprice * 1000) AS BIGINT) AS v
        |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
        |obs AS (
        |  SELECT CAST(sum(CASE WHEN isa THEN v END) AS BIGINT) AS sa,
        |    count(CASE WHEN isa THEN 1 END) AS na,
        |    CAST(sum(CASE WHEN NOT isa THEN v END) AS BIGINT) AS sb,
        |    count(CASE WHEN NOT isa THEN 1 END) AS nb
        |  FROM b),
        |e AS (
        |  SELECT b.v, t.i,
        |    (CAST(b.id AS UHUGEINT) + CAST(t.i AS UHUGEINT)
        |      * CAST(11400714819323198485 AS UHUGEINT))
        |      % CAST(18446744073709551616 AS UHUGEINT) AS p0
        |  FROM b, range(1, 65) t(i)),
        |m AS (
        |  SELECT v, i, xor(p2, p2 >> 31) AS h FROM (
        |    SELECT v, i,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT v, i,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM e))),
        |perm AS (
        |  SELECT i,
        |    CAST(coalesce(sum(CASE WHEN hi THEN v END), 0) AS HUGEINT)
        |      AS psa,
        |    CAST(count(CASE WHEN hi THEN 1 END) AS HUGEINT) AS pna,
        |    CAST(coalesce(sum(CASE WHEN NOT hi THEN v END), 0) AS HUGEINT)
        |      AS psb,
        |    CAST(count(CASE WHEN NOT hi THEN 1 END) AS HUGEINT) AS pnb
        |  FROM (SELECT i, v,
        |          h >= CAST(9223372036854775808 AS UHUGEINT) AS hi
        |        FROM m)
        |  GROUP BY i),
        |ex AS (
        |  SELECT count(*) AS n_extreme FROM perm, obs
        |  WHERE pna = 0 OR pnb = 0
        |     OR abs(psa * pnb - psb * pna) * (CAST(na AS HUGEINT) * nb)
        |        >= abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)
        |           * (pna * pnb))
        |SELECT na AS n_a, CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
        |  nb AS n_b, CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b,
        |  CAST(64 AS INTEGER) AS n_perms,
        |  CAST(n_extreme AS BIGINT) AS n_extreme,
        |  (CAST(1 AS DOUBLE) + CAST(n_extreme AS DOUBLE))
        |    / CAST(65 AS DOUBLE) AS p_value
        |FROM obs, ex""".stripMargin,

    // k-anonymity replay: one grouped aggregate, SQL GROUP BY null
    // semantics on the quasi key, count(DISTINCT) diversity
    "ka01_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
        |    AS n_sensitive,
        |  count(*) >= 10 AS k_anonymous,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 4
        |    AS l_diverse
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin
  )
}

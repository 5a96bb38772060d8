package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal relational operators the reference's BI surface implies but
  * Spark lacks as built-ins: interval (range) join, SCD2 validity-window
  * construction, and gap-based batch sessionization. All three are
  * deterministic window/equi-join programs — no UDFs — so a SQL oracle
  * replays them exactly; see [[AsOfJoin]] for the fourth member of this
  * family.
  */
object Temporal {

  /** Guarded cell tiling for the bucketed joins: ONE pathological
    * interval (a 9999-12-31 end-of-time sentinel, a corrupt end) with a
    * small bucketWidth would explode to billions of cells — Spark's
    * `sequence` aborts the whole job past ~2^31 elements, and short of
    * that the replicated rows concentrate in one task. The cap makes it
    * fail by NAME with the offending span instead; fixtures never
    * approach it. NULL bounds keep their behavior (no cells, row drops
    * out of the inner join). */
  private def cellSeq(s: String, e: String, bucketWidth: Long,
                      maxCells: Long, op: String): Column = {
    val lo = s"(cast($s as bigint) div $bucketWidth)"
    val hi = s"(cast($e as bigint) div $bucketWidth)"
    expr(s"""CASE WHEN $hi - $lo + 1 > ${maxCells}L THEN
            |  raise_error(concat('$op: interval spans ',
            |    cast($hi - $lo + 1 as string), ' cells (cap $maxCells) — ',
            |    'corrupt end or end-of-time sentinel; clamp the interval ',
            |    'or raise bucketWidth'))
            |ELSE sequence($lo, $hi) END""".stripMargin)
  }

  /** Range (interval) join: every `points` row paired with every
    * `intervals` row of the same `keyCol` whose half-open window
    * `[startCol, endCol)` contains the point's `tsCol`.
    *
    * Re-expression instead of the naive `l.key = r.key AND ts >= s AND
    * ts < e` plan: Catalyst executes that as an equi-join on the key that
    * multiplies every point by the key's WHOLE interval history before
    * filtering — quadratic per hot key. Here time is tiled into
    * `bucketWidth`-second cells: each interval explodes to the cells it
    * overlaps, each point maps to exactly ONE cell, and the join becomes a
    * plain `(key, cell)` equi-join + residual range filter — the
    * bucketed-range-join plan Databricks/Trino use. Cost is linear in
    * points plus (interval length / bucketWidth) replicated interval rows;
    * pick `bucketWidth` near the typical interval length so the
    * replication factor stays ~2. A point matches in exactly one cell, so
    * no post-join dedup is needed.
    *
    * Timestamps compare at full precision; only the cell id truncates
    * (`cast(ts as bigint)` = whole epoch seconds on both engines). */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keyCol: String,
                tsCol: String, startCol: String, endCol: String,
                bucketWidth: Long,
                maxCellsPerInterval: Long = 1L << 20): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val p = points.withColumn("_cell_",
      expr(s"cast($tsCol as bigint) div $bucketWidth"))
    val i = intervals.withColumn("_cell_", explode(cellSeq(
      startCol, endCol, bucketWidth, maxCellsPerInterval, "rangeJoin")))
    p.join(i, Seq(keyCol, "_cell_"))
      .where(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("_cell_")
  }

  /** Interval×interval OVERLAP join — the two-sided companion to
    * [[rangeJoin]]: every `left` interval `[lStart, lEnd)` paired with
    * every `right` interval `[rStart, rEnd)` of the same key that
    * overlaps it (`lStart < rEnd AND rStart < lEnd`, half-open).
    *
    * Same tiling re-expression (the naive key-equi-join plan is
    * quadratic per hot key): BOTH sides explode to the `bucketWidth`-
    * second cells they cover and join on `(key, cell)`. An overlapping
    * pair shares every cell between `max(lStart,rStart)` and
    * `min(lEnd,rEnd)` — so the join keeps ONLY the cell containing
    * `greatest(lStart, rStart)` (always a shared cell when the pair
    * overlaps): exactly one surviving row per pair, NO dedup shuffle.
    * Cost is linear in replicated interval rows (length/bucketWidth per
    * interval); pick `bucketWidth` near the typical interval length. */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame, keyCol: String,
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          bucketWidth: Long,
                          maxCellsPerInterval: Long = 1L << 20): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    def cells(df: DataFrame, s: String, e: String) =
      df.withColumn("_cell_", explode(cellSeq(
        s, e, bucketWidth, maxCellsPerInterval, "intervalOverlapJoin")))
    cells(left, lStart, lEnd)
      .join(cells(right, rStart, rEnd), Seq(keyCol, "_cell_"))
      .where(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      .where(col("_cell_") ===
        expr(s"greatest(cast($lStart as bigint), cast($rStart as bigint))" +
          s" div $bucketWidth"))
      .drop("_cell_")
  }

  /** SCD2 (slowly-changing-dimension type 2) validity windows: each key's
    * change events, ordered by `(tsCol, tieCol)`, become versioned rows
    * with `valid_from` = the event's ts, `valid_to` = the NEXT event's ts
    * (null for the current version), `version` (1-based) and `is_current`.
    * This is the standard lakehouse snapshot-build: one shuffle on the
    * key, one partitioned ordered window — linear, sort-merge-friendly.
    * `tieCol` must make `(keyCol, tsCol, tieCol)` unique or version
    * numbering is nondeterministic. */
  def scd2Intervals(df: DataFrame, keyCol: String, tsCol: String,
                    tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    df.withColumn("version", row_number().over(w))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** CDC snapshot build (SCD1 / latest-wins merge): collapse a change log
    * to current state — the newest change per key wins, and keys whose
    * newest change is `deleteOp` drop out entirely. One shuffle on the
    * key, one descending window, one filter: the standard lakehouse
    * MERGE-free upsert compaction (run it over base ∪ changes to apply a
    * batch to an existing snapshot — latest-wins makes the union
    * associative, so incremental and full rebuilds agree). `tieCol`
    * breaks same-timestamp changes deterministically. */
  def latestState(changes: DataFrame, keyCol: String, tsCol: String,
                  tieCol: String, opCol: String, deleteOp: String): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    changes.withColumn("_rn_", row_number().over(w))
      .where(col("_rn_") === 1 && col(opCol) =!= deleteOp)
      .drop("_rn_")
  }

  /** Gap-based batch sessionization (the batch twin of the streaming
    * `session_window` in [[graft.streaming.Streams]]): events of one key
    * separated by more than `gapSeconds` start a new session. One shuffle
    * on the key, two ordered windows (lag + running sum), one aggregate —
    * the classic linear plan.
    *
    * The gap compares epoch seconds as doubles: microsecond-precision
    * epochs stay below 2^53 so the double is EXACT, and
    * `epoch(ts)`/`cast(ts as double)` agree across engines (whereas
    * truncating each side to whole seconds before subtracting would not).
    *
    * Output: one row per session with `session_seq` (1-based per key),
    * `session_start`, `session_end`, `n_events`. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, gapSeconds: Double): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_prev_", lag(col(tsCol), 1).over(w))
      .withColumn("_new_",
        when(col("_prev_").isNull ||
          col(tsCol).cast("double") - col("_prev_").cast("double") >
            lit(gapSeconds), 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("_new_")).over(run))
      .groupBy(col(keyCol), col("session_seq"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Keyed (count, sum) aggregate state — the materialized-view shape
    * maintained incrementally by [[applyAggDelta]]. DECIMAL total so the
    * distributed sum is exact and order-free (the repo-wide oracle
    * discipline). */
  def aggregateState(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valCol).cast("decimal(18,2)")).as("total"))

  /** Incremental materialized-aggregate maintenance: fold a delta batch
    * into an existing [[aggregateState]] WITHOUT rescanning the base data
    * — aggregate the delta alone (it's the only part that shuffles at
    * base-table granularity), union the two small state tables, and
    * re-combine. count and DECIMAL sum are associative/commutative, so
    * the result is row-identical to a full rebuild over base ∪ delta —
    * the property mv01 gates. At 100 TB this is the difference between
    * touching a day's ingest and touching the whole history; the same
    * shape maintains any commutative-monoid aggregate (min/max/sum-of-
    * squares ride along as extra columns). */
  def applyAggDelta(state: DataFrame, delta: DataFrame, keyCol: String,
                    valCol: String): DataFrame =
    state.unionByName(aggregateState(delta, keyCol, valCol))
      .groupBy(col(keyCol))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("total")).as("total"))

  /** DELETE-capable incremental aggregate maintenance — [[applyAggDelta]]
    * generalized to signed multiplicities (the z-set form that already
    * maintains the join view in [[applyJoinDeltaSigned]]): each delta row
    * carries `multCol` (+1 insert, −1 delete, any signed count), the
    * retractable count adds m and the retractable DECIMAL sum adds
    * m·value — both stay commutative GROUPS (not just monoids), which is
    * exactly what makes a DELETE foldable without rescanning base data.
    * Keys whose count retracts to zero vanish from the state, so the
    * result is row-identical to a full rebuild over the post-delete base
    * — the property mv04 gates. Same single delta-sized shuffle as the
    * insert-only fold; the state side never rescans. */
  def applyAggDeltaSigned(state: DataFrame, delta: DataFrame,
                          keyCol: String, valCol: String,
                          multCol: String): DataFrame = {
    val deltaState = delta.groupBy(col(keyCol))
      .agg(sum(col(multCol).cast("long")).as("n_rows"),
        sum(col(valCol).cast("decimal(18,2)") *
          col(multCol).cast("decimal(18,0)")).as("total"))
    state.unionByName(deltaState)
      .groupBy(col(keyCol))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("total")).as("total"))
      .where(col("n_rows") =!= 0)
  }

  /** Incremental JOIN maintenance — the delta rule for materialized join
    * views (Blakeley et al. 1986, public):
    *   Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB.
    * Given the join's current content plus the two delta batches (and
    * the OLD base sides for the cross terms), the new view is the old
    * content union the three delta joins — base never re-joins base,
    * which at 100 TB is the difference between touching a day's ingest
    * and re-running the whole join. Inserts only (the monotone case;
    * deletes need a multiset-annotated view — stated, not hidden).
    * Equality with the full rebuild over (A ∪ ΔA) ⋈ (B ∪ ΔB) is exactly
    * what the gate checks.
    *
    * Plan: ΔA ⋈ B and A ⋈ ΔB shuffle the BASE side once each on the
    * join key (broadcast the delta when it's small — Spark's planner
    * does this from size estimates); ΔA ⋈ ΔB is delta-sized. */
  def applyJoinDelta(view: DataFrame, baseA: DataFrame, baseB: DataFrame,
                     deltaA: DataFrame, deltaB: DataFrame,
                     keyCol: String): DataFrame =
    view
      .unionByName(deltaA.join(baseB, keyCol))
      .unionByName(baseA.join(deltaB, keyCol))
      .unionByName(deltaA.join(deltaB, keyCol))

  /** DELETE-capable incremental join maintenance — [[applyJoinDelta]]
    * generalized to the signed-multiset (z-set / DBSP-style, public)
    * form: every side carries an integer multiplicity, deltas carry
    * +1/−1 (or any signed count), and the SAME three-term delta rule
    * maintains the view because multiplicities multiply through the
    * join and add through the union:
    *   m_ΔV(t) = m_ΔA·m_B + m_A·m_ΔB + m_ΔA·m_ΔB.
    * Rows whose folded multiplicity reaches zero vanish — that is what
    * makes a DELETE just a −1 insert. Inputs: each frame as
    * (`keyCol`, payload columns..., `multCol`); both payload sets must
    * be disjoint apart from the key. Output: the new view in the same
    * shape, mult ≠ 0 only.
    *
    * Plan: three joins (base sides shuffle once each, delta-sized
    * otherwise) + one grouped sum over (key, payloads) — the grouping
    * touches only view-candidate rows, never re-joins base to base. */
  def applyJoinDeltaSigned(view: DataFrame, baseA: DataFrame,
                           baseB: DataFrame, deltaA: DataFrame,
                           deltaB: DataFrame, keyCol: String,
                           multCol: String): DataFrame = {
    def term(l: DataFrame, r: DataFrame) = l
      .withColumnRenamed(multCol, "_ml_")
      .join(r.withColumnRenamed(multCol, "_mr_"), keyCol)
      .withColumn(multCol, col("_ml_") * col("_mr_"))
      .drop("_ml_", "_mr_")
    val cols = term(baseA, baseB).columns
    val all = Seq(view, term(deltaA, baseB), term(baseA, deltaB),
      term(deltaA, deltaB)).map(_.select(cols.map(col): _*))
    all.reduce(_ unionByName _)
      .groupBy(cols.filter(_ != multCol).map(col): _*)
      .agg(sum(col(multCol)).as(multCol))
      .where(col(multCol) =!= 0)
  }

  /** Two-sample Kolmogorov–Smirnov statistic — the nonparametric "did
    * the distribution move" check (complements [[Analytics.psiDrift]]'s
    * binned form with the exact sup-distance over ALL thresholds). For
    * integer samples the statistic is exact: at every distinct value x,
    * D(x) = |cdf₁(x) − cdf₂(x)| = |c₁(x)·n₂ − c₂(x)·n₁| / (n₁·n₂), and
    * keeping the NUMERATOR integer until one final division makes the
    * max engine-portable (no float CDF subtractions to disagree on).
    *
    * Plan: per-value counts for each sample full-outer-merged, one
    * ordered window for the two running counts, one max aggregate —
    * a single sort over DISTINCT values, not rows. Output: one row
    * (n_a, n_b, ks_num BIGINT, ks_stat DOUBLE = ks_num/(n_a·n_b)). */
  def ksStatistic(dfA: DataFrame, dfB: DataFrame,
                  valCol: String): DataFrame = {
    val a = dfA.select(col(valCol).cast("long").as("_v_"))
      .where(col("_v_").isNotNull)
      .groupBy("_v_").agg(count(lit(1)).as("_ca_"))
    val b = dfB.select(col(valCol).cast("long").as("_v_"))
      .where(col("_v_").isNotNull)
      .groupBy("_v_").agg(count(lit(1)).as("_cb_"))
    val merged = a.join(b, Seq("_v_"), "full_outer")
      .select(col("_v_"), coalesce(col("_ca_"), lit(0L)).as("_ca_"),
        coalesce(col("_cb_"), lit(0L)).as("_cb_"))
    // running counts via the two-phase sharded prefix sum (the _v_ keys
    // are unique after the full-outer merge) and totals via a broadcast
    // 1-row cross join — no partition-less window funnels the
    // distinct-value table through one task
    val totals = merged.agg(sum("_ca_").as("_na_"), sum("_cb_").as("_nb_"))
    // cross products in DECIMAL(38,0): cum·n reaches n_a·n_b, which
    // exceeds LONG at ~3e9 rows per arm and would WRAP silently
    // (non-ANSI long multiply), handing the drift gate a garbage max —
    // invisible at oracle scale, fatal at 100 TB. Exact integers convert
    // to the identical double either way, so small-scale hashes hold.
    Packing.runningTotalsSharded(merged, "_v_",
        Seq("_ca_" -> "_cuma_", "_cb_" -> "_cumb_"))
      .crossJoin(broadcast(totals))
      .withColumn("_d_",
        abs(col("_cuma_").cast("decimal(38,0)") * col("_nb_") -
          col("_cumb_").cast("decimal(38,0)") * col("_na_")))
      .agg(max("_na_").as("n_a"), max("_nb_").as("n_b"),
        max("_d_").as("_ksd_"))
      .select(col("n_a"), col("n_b"),
        col("_ksd_").cast("long").as("ks_num"),
        (col("_ksd_").cast("double") /
          (col("n_a").cast("decimal(38,0)") * col("n_b"))
            .cast("double")).as("ks_stat"))
  }

  /** Snapshot diff — the table-versioning primitive: given two snapshots
    * of a keyed table, emit one row per key whose state changed, tagged
    * `added` / `removed` / `changed`, with the old and new value of each
    * compared column side by side (`old_<c>` / `new_<c>`). Unchanged keys
    * (every compared column null-safe-equal) are dropped.
    *
    * Plan: ONE full-outer sort-merge join on the key — both snapshots
    * shuffle once, no driver state, and the change classification is a
    * row-local expression. At 100 TB, cut the join short by pre-hashing:
    * aggregate a per-key row hash on each side, anti-join equal hashes
    * first, and full-outer only the survivors — same output, and the
    * full-width rows of unchanged keys (the overwhelming majority of a
    * daily snapshot pair) never shuffle. Keys must be unique per
    * snapshot (it is a diff of STATES, not of multisets — dedup first
    * or diff [[latestState]] outputs). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "need at least one compared column")
    val o = oldDf.select(col(keyCol) +:
      (lit(true).as("_in_old_") +:
        compareCols.map(c => col(c).as(s"old_$c"))): _*)
    val n = newDf.select(col(keyCol) +:
      (lit(true).as("_in_new_") +:
        compareCols.map(c => col(c).as(s"new_$c"))): _*)
    val changed = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("_in_old_").isNull, "added")
          .when(col("_in_new_").isNull, "removed")
          .when(changed, "changed"))
      .where(col("change").isNotNull)
      .drop("_in_old_", "_in_new_")
  }

  /** Point-in-time LABEL construction: for every activity row, "did an
    * outcome follow within `horizonSeconds`" — the leakage-safe way to
    * build supervised targets from an event log (churn/conversion
    * labels, feature-store style). The window is STRICTLY exclusive at
    * the activity instant: a same-timestamp outcome is not the future,
    * and silently counting it is exactly the label leakage this
    * operator exists to prevent.
    *
    * Plan: union the two tagged streams and sort once per key with
    * outcomes ORDERED BEFORE activities at equal timestamps; then each
    * activity's next outcome is one `min(outcome ts)` over the
    * rows-following frame — same-instant outcomes sit before the row
    * and drop out of the frame by construction, no inequality join, no
    * per-activity probe. One shuffle on the key, one sort, at any
    * scale. Output: one row per activity —
    * (`keyCol`, `idCol`, `tsCol`, next_outcome_ts, label BOOLEAN). */
  def futureOutcomeLabels(activity: DataFrame, outcomes: DataFrame,
                          keyCol: String, tsCol: String, idCol: String,
                          horizonSeconds: Long): DataFrame = {
    require(horizonSeconds > 0, s"horizon must be positive, got $horizonSeconds")
    val a = activity.select(col(keyCol).as("_k_"), col(tsCol).as("_ts_"),
      col(idCol).as("_id_"), lit(1).as("_tag_"))
    val o = outcomes.select(col(keyCol).as("_k_"), col(tsCol).as("_ts_"),
      lit(null).cast(a.schema("_id_").dataType).as("_id_"),
      lit(0).as("_tag_"))
    val w = Window.partitionBy("_k_").orderBy(col("_ts_"), col("_tag_"))
      .rowsBetween(1, Window.unboundedFollowing)
    a.unionByName(o)
      .withColumn("_next_",
        min(when(col("_tag_") === 0, col("_ts_"))).over(w))
      .where(col("_tag_") === 1)
      .select(col("_k_").as(keyCol), col("_id_").as(idCol),
        col("_ts_").as(tsCol), col("_next_").as("next_outcome_ts"),
        (col("_next_").isNotNull &&
          col("_next_") <= expr(s"timestampadd(SECOND, $horizonSeconds, _ts_)"))
          .as("label"))
  }

  /** DELETE-capable incremental TOP-K view maintenance — the ranking twin
    * of [[applyAggDeltaSigned]]: the backing state is the signed-multiset
    * (group, id, score) table (a DELETE is a −1 row; zero-multiplicity
    * rows vanish — which is exactly why top-k needs the FULL per-group
    * state behind the k-row view: a delete inside the top k promotes the
    * k+1-th, which no k-row-only state could recover), and the view is
    * re-ranked ONLY for groups the delta touches: untouched groups'
    * view rows pass through by anti-join, byte-identical.
    *
    * At 100 TB that locality is the whole point — a day's delta touches
    * a sliver of the group space, so the expensive rank (score-desc,
    * id-asc row_number ≤ k, a key-partitioned window) runs over the
    * touched groups' state only; the state fold itself is one grouped
    * sum keyed by (group, id, score). Returns (newState, newView), both
    * in input shape (`multCol` only on the state). */
  def applyTopKDeltaSigned(state: DataFrame, view: DataFrame,
                           delta: DataFrame, groupCol: String,
                           idCol: String, scoreCol: String,
                           multCol: String, k: Int)
      : (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val keys = Seq(groupCol, idCol, scoreCol)
    val newState = state.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(multCol).cast("long")).as(multCol))
      .where(col(multCol) =!= 0)
    val touched = delta.select(col(groupCol)).distinct()
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    // Re-rank PRESENT rows only: the z-set state keeps negative
    // multiplicities (an over-delete awaiting its matching insert), but a
    // row the view has never seen must not be resurrected into the view
    // by a net-negative count — `> 0`, not `=!= 0`, is the view contract.
    val reRanked = newState
      .where(col(multCol) > 0)
      .join(touched.hint("broadcast"), Seq(groupCol), "left_semi")
      .withColumn("_rn_", row_number().over(w))
      .where(col("_rn_") <= k)
      .select(keys.map(col): _*)
    val untouched = view
      .join(touched.hint("broadcast"), Seq(groupCol), "left_anti")
    (newState, untouched.unionByName(reRanked))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Shared in-plan guard kernels, so that no operator hand-rolls its own
  * copy of a guard.
  *
  * Contract notes (the guard-contract rules):
  *  - raise_error payloads always coalesce NULL-able columns — a NULL in
  *    a concat would null-propagate into a message-less error;
  *  - NaN/±Inf must be rejected BEFORE any bigint/floor cast: Spark's
  *    non-ANSI casts silently map NaN → 0 and +Inf → Long.MaxValue,
  *    which corrupts shard bounds and integer elections with no
  *    error anywhere in the output.
  *
  * Join-volume guards: every operator that guards an equi-join before
  * running it (the LSH and bucket pair lanes, FuzzyLookup's token and
  * deletion-variant joins, the n-gram prefix join, the basket and wedge
  * self-joins) reads one probe over [[keyCounts]]: each key's row count
  * per side (one `groupBy` for a self-join, one aggregate over the union
  * of both sides' keys otherwise). [[fanOut]] runs one aggregate over it
  * giving [[pairs]] (Σ left·right in DECIMAL), each side's row total and
  * each side's hottest key; FuzzyLookup's token guard observes [[pairs]]
  * in the job that pins its per-key idf table instead. NULL keys never
  * pair — an equi-join drops a row with any NULL key component — so the
  * probe drops them too, and no guard raises on, or names, a key that
  * cannot join. Each caller keeps its own bound, policy
  * and raise text.
  */
object Guards {

  /** TRUE iff `d` (a double-cast column) is a finite number; NULL for
    * NULL input (three-valued — callers pick their NULL policy). */
  def isFiniteD(d: Column): Column =
    !isnan(d) && d > Double.NegativeInfinity && d < Double.PositiveInfinity

  /** NULL-TOLERANT finite guard: returns `pass` when `c` is NULL (the
    * caller's expression null-propagates) or finite, raises `msg` on
    * NaN/±Inf. The window-ordering contract: NULLs keep their ORDER BY
    * placement, non-finite values are upstream bugs. */
  def finiteOrRaise(c: Column, pass: Column, msg: Column): Column = {
    val d = c.cast("double")
    when(c.isNull, pass).when(isFiniteD(d), pass).otherwise(raise_error(msg))
  }

  /** STRICT finite guard: NULL is rejected too (the embedding-component
    * contract — a NULL component is as corrupt as a NaN one). */
  def finiteOrRaiseStrict(c: Column, pass: Column, msg: Column): Column =
    when(isFiniteD(c.cast("double")), pass).otherwise(raise_error(msg))

  /** Standard non-finite message: `op: non-finite what (value)` + extra
    * context columns, every payload coalesced. */
  def nonFiniteMsg(op: String, what: String, c: Column, ctx: Column*): Column =
    concat(Seq(lit(s"$op: non-finite $what ("),
      coalesce(c.cast("double").cast("string"), lit("NULL")),
      lit(")")) ++ ctx: _*)

  /** Exact integral narrowing: yields `c.cast("long")` ONLY when the
    * double view round-trips (so the value is integral and within long
    * range); raises by name otherwise. `cast("long")` alone silently
    * FLOORS 1.9 → 1 — the recurring guard-contract defect class (hit
    * weightedPrioritySample, then decimalQuantileSketch one commit
    * later). NULL passes through as NULL (callers pick their NULL
    * policy separately). */
  def integralLongOrRaise(c: Column, op: String, what: String): Column =
    when(c.isNull, lit(null).cast("long"))
      .when(c.cast("double") === c.cast("long").cast("double"), c.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"$op: $what must be integral ("),
        coalesce(c.cast("string"), lit("NULL")),
        lit(") — quantize floats upstream"))))

  /** Schema-aware integral narrowing for "valCol must be integer-typed"
    * operator contracts: already-integral columns cast straight through
    * (the double round-trip would FALSELY reject legitimate longs past
    * 2^53), everything else goes through [[integralLongOrRaise]]. */
  def integralLongCol(df: DataFrame, valCol: String, op: String): Column = {
    import org.apache.spark.sql.types._
    df.select(col(valCol)).schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(valCol).cast("long")
      case _ => integralLongOrRaise(col(valCol), op, valCol)
    }
  }

  /** Long-id gate for every mix64-keyed admission/sketch operator
    * (Sampling and Sketch share it): a NULL, non-numeric, or NON-INTEGRAL
    * id raises BY NAME. A NULL hash is never neutral downstream — it wins
    * ascending admission windows, lands rows in shard NULL, or addresses
    * phantom sketch registers — and a bare cast("long") would silently FLOOR a
    * fractional id (1.1 and 1.9 hash identically — correlated samples,
    * undercounting sketches) and map NaN to 0 (guard-contract rule: no
    * non-finite value reaches a bigint cast). Schema-aware like
    * [[integralLongCol]]: already-integral columns only null-check (the
    * round-trip would falsely reject snowflake-scale longs past 2^53). */
  def longIdOrRaise(df: DataFrame, idCol: String, op: String): Column = {
    import org.apache.spark.sql.types._
    val base = col(idCol).cast("long")
    val ok = df.select(col(idCol)).schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => base.isNotNull
      // FLOAT/DOUBLE ids: the double round-trip alone proves integrality
      // (a decimal(38,18) leg would FALSELY reject integral doubles past
      // 2^53: double→decimal casts via the shortest decimal string, so
      // 2^60 becomes ...847000000000000000 while the long cast is
      // ...846976). The decimal leg was also the only thing catching
      // long-RANGE saturation (±Inf and values >= 2^63 cast to
      // Long.Max/MinValue, whose double view can equal the input — e.g.
      // 2^63 === Long.MaxValue.toDouble), so it is replaced by an
      // explicit range bound: [-2^63, 2^63) is exactly representable in
      // doubles, and anything outside would have saturated silently.
      case FloatType | DoubleType =>
        val d = col(idCol).cast("double")
        base.isNotNull && d === base.cast("double") &&
          d >= lit(Long.MinValue.toDouble) && d < lit(9.223372036854775808e18)
      case _ => base.isNotNull &&
        col(idCol).cast("double") === base.cast("double") &&
        col(idCol).cast("decimal(38,18)") === base.cast("decimal(38,18)")
    }
    when(ok, base).otherwise(raise_error(concat(
      lit(s"$op: NULL, non-numeric or non-integral id "),
      coalesce(col(idCol).cast("string"), lit("NULL")),
      lit(" — rank-encode string ids upstream, quantize fractional ones"))))
  }

  /** One side's hottest join key: its key values and its row count. */
  final case class HotKey(key: Row, rows: Long)

  /** An equi-join's fan-out, from [[fanOut]]: `pairs` is Σ over keys of
    * leftRows·rightRows — the join's exact output row count, Σ c² for a
    * self-join — and `leftRows`/`rightRows` are the rows that can join. */
  final case class FanOut(pairs: java.math.BigInteger, leftRows: Long,
                          rightRows: Long, hotLeft: Option[HotKey],
                          hotRight: Option[HotKey])

  /** Each `keys` tuple's row count on each side: `keys`, `_l_`, `_r_`. One
    * `groupBy` when `left eq right` (a self-join); otherwise one aggregate
    * over the union of both sides' keys, so a key on one side only has a
    * zero count on the other. Rows with a NULL key component are dropped:
    * an equi-join never pairs them. */
  def keyCounts(left: DataFrame, right: DataFrame,
                keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val joinable = keyCols.map(_.isNotNull).reduce(_ && _)
    if (left eq right)
      left.where(joinable).groupBy(keyCols: _*).agg(count(lit(1)).as("_l_"))
        .withColumn("_r_", col("_l_"))
    else left.where(joinable).select(keyCols :+ lit(true).as("_s_"): _*)
      .unionByName(right.where(joinable).select(keyCols :+ lit(false).as("_s_"): _*))
      .groupBy(keyCols: _*)
      .agg(count(when(col("_s_"), 1)).as("_l_"),
        count(when(!col("_s_"), 1)).as("_r_"))
  }

  /** Σ left·right over [[keyCounts]] rows, the join's output row count:
    * 0 over no rows, DECIMAL so a product of two row-count-scale counts
    * cannot wrap a LONG sum silently. */
  def pairs: Column = coalesce(sum(col("_l_").cast("decimal(38,0)") * col("_r_")),
    lit(0).cast("decimal(38,0)"))

  /** The fan-out of `left.join(right, keys)` in one aggregate job over
    * [[keyCounts]]: [[pairs]], each side's row total and hottest key. A
    * side's hottest key is its largest count, ties to the largest key;
    * None when that side has no joinable row. */
  def fanOut(left: DataFrame, right: DataFrame, keys: Seq[String]): FanOut = {
    val hot = (c: String) =>
      max(when(col(c) > 0, struct(col(c), struct(keys.map(col): _*))))
    val r = keyCounts(left, right, keys).agg(pairs,
      coalesce(sum(col("_l_")), lit(0L)), coalesce(sum(col("_r_")), lit(0L)),
      hot("_l_"), hot("_r_")).collect()(0)
    def hotKey(i: Int) =
      Option(r.getStruct(i)).map(h => HotKey(h.getStruct(1), h.getLong(0)))
    FanOut(r.getDecimal(0).toBigInteger, r.getLong(1), r.getLong(2),
      hotKey(3), hotKey(4))
  }

  /** Bucket size above which an LSH-family pair join is an effective
    * hang, not a slow query: within-bucket candidates are size²/2, so ONE
    * bucket at this bound emits ~5.5e11 pair rows before any distinct.
    * Bucket occupancy grows with the data at fixed key cardinality (an sf1
    * soak measured ann05 164.8x and dd04 36x at 10x data). Sized three
    * orders of magnitude above anything the gated queries or the sf1 soak
    * reach (max real buckets there are in the thousands), so
    * [[PairJoin]]'s guard is dormant everywhere except genuine degeneracy. */
  val DegenerateBucketBound: Long = 1L << 20

  /** Row bound above which a documented single-task lane (a global
    * `Window.orderBy` with no partitioning — one sequential sort task)
    * refuses by name instead of silently funneling the dataset through
    * one executor thread. 2^22 (~4.2M rows) is far above every gated
    * query and every documented small-data use (calendar-sized series,
    * demo corpora), and far below where a one-task sort of a 100 TB
    * input would quietly eat hours. The same contract shape as the
    * exact-ANN lane's loud 2^21 collect bound. */
  val SingleTaskRowBound: Long = 1L << 22

  /** Eager single-task-lane probe: counts `df` and raises by name with
    * the sharded/contract twin spelled out. `bound <= 0` disables — the
    * explicit opt-in to the sequential cost.
    *
    * Cost note: `count()` is not a second full evaluation of the
    * caller's plan — Catalyst prunes every deterministic projection a
    * bare count doesn't need (UDF-computed columns included), so over a
    * scan the probe collapses to a parquet row-group metadata count;
    * only cardinality-changing upstreams (aggregates, joins) genuinely
    * re-run, and those feed a documented small-output lane by
    * contract. */
  def singleTaskLaneProbe(df: DataFrame, op: String, bound: Long,
                          twinHint: String): Unit =
    if (bound > 0) {
      val n = df.count()
      require(n <= bound,
        s"$op: $n rows exceed the $bound-row single-task bound — this " +
          s"lane runs ONE global-sort task by documented contract and " +
          s"would serialize the whole dataset through a single executor " +
          s"thread; $twinHint")
    }

  /** The degenerate-bucket error [[PairJoin]] raises: `row` holds the
    * bucket's `keys` values, then its row count. */
  def degenerateBucketMessage(op: String, keys: Seq[String], row: Row,
                              bound: Long, knobHint: String): String = {
    val key = keys.zipWithIndex
      .map { case (k, i) => s"$k=${Option(row.get(i)).getOrElse("NULL")}" }
      .mkString(", ")
    s"$op: degenerate LSH bucket ($key) holds " +
      s"${row.getLong(keys.size)} rows > $bound — the within-bucket " +
      s"pair join would emit ~size^2/2 candidate rows from this " +
      s"bucket alone (an effective hang); " +
      s"$knobHint"
  }
}

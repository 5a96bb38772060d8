package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence preparation for LLM training: split long documents into
  * token-window chunks, and pack a token stream into fixed-length training
  * sequences. Both are deterministic array/window programs — no UDFs — so
  * they replay exactly in a SQL oracle.
  */
object Packing {

  /** `df` plus `_shard_`: contiguous `idCol` ranges cut from the id span
    * [lo, hi] into `numShards` shards, `(id - lo) div width` with
    * `width = (hi - lo) div numShards + 1`. The bounds are part of the
    * plan, a one-row min/max aggregate cross-joined (broadcast) onto the
    * rows, so building the query starts no job. The arithmetic is
    * DECIMAL(38,0) because a span past 2^63 (hash-like ids) wraps LONG
    * `hi - lo` and `id - lo` silently. The id is TRUNCATED to bigint, the
    * cast the bounds use, so the quotient stays in [0, numShards): a
    * direct double→decimal cast ROUNDS, and a fractional id above hi+0.5
    * would land on the reserved nulls shard. A NULL id (and every id of
    * an all-NULL input) gets the `nullShard` shard, by default NULL. */
  private def withShard(df: DataFrame, idCol: String, numShards: Int,
                        nullShard: Option[Long] = None): DataFrame = {
    val span = "(cast(_hi_ as decimal(38,0)) - _lo_)"
    val bounds = df.agg(min(col(idCol)).cast("long").as("_lo_"),
        max(col(idCol)).cast("long").as("_hi_"))
      .withColumn("_lo_", col("_lo_").cast("decimal(38,0)"))
      // exact quotient: decimal `div` returns a LONG, which 2^64 div 1
      // overflows
      .select(col("_lo_"), expr(s"cast(($span - $span % $numShards) / " +
        s"$numShards + 1 as decimal(38,0))").as("_width_"))
    df.crossJoin(broadcast(bounds))
      .withColumn("_shard_", coalesce(
        expr(s"cast((cast(cast($idCol as bigint) as decimal(38,0)) - _lo_) " +
          "div _width_ as bigint)") +: nullShard.map(lit).toSeq: _*))
      .drop("_lo_", "_width_")
  }

  /** Sharded prefix operators REQUIRE a numeric (or timestamp) id: shard
    * assignment casts the id to bigint, so a string/uuid id would null
    * the bounds (silently degrading the plan), and a NUMERIC-STRING
    * id is worse — it shards by the numeric cast but window-orders
    * LEXICOGRAPHICALLY ("10" < "9"), so the stitched prefix silently
    * diverges from both the numeric and the lexicographic total order.
    * Timestamps are safe: cast-to-bigint (epoch seconds) is MONOTONE with
    * timestamp ordering, so second-truncation only merges adjacent ids
    * into one shard — never reorders across shards. Fail by name
    * otherwise; callers with string ids rank-encode first.
    *
    * Returns the id's guarded form: floating ids additionally get the
    * in-plan non-finite rejection HERE (the defense belongs at this
    * altitude — cast(NaN as bigint) = 0 silently corrupts the bounds
    * and shard assignment for EVERY float-keyed caller, not just
    * the ones that remembered to pre-guard). */
  private def numericIdGuarded(df: DataFrame, idCol: String,
                               op: String): DataFrame = {
    val idType = df.select(col(idCol)).schema.head.dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        idType == org.apache.spark.sql.types.TimestampType,
      s"$op: idCol '$idCol' must be numeric or timestamp, got " +
        s"${idType.simpleString} — shard assignment casts ids to bigint, " +
        "so a non-numeric id either nulls the shard bounds or shards " +
        "numerically while ordering lexicographically (silent " +
        "divergence); rank-encode the id first")
    idType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        df.withColumn(idCol, Guards.finiteOrRaise(col(idCol), col(idCol),
          Guards.nonFiniteMsg(op, s"ordering id $idCol", col(idCol))))
      case _ => df
    }
  }

  /** How a [[shardedScan]] folds values: the aggregate it applies per
    * shard and within a shard, how an earlier-shards base meets the
    * within-shard value, and the window frame's end row (0 inclusive,
    * -1 exclusive). */
  private[operators] final case class Fold(
      agg: Column => Column, stitch: (Column, Column) => Column, frameEnd: Long)

  /** Inclusive running sum; no earlier shard means a base of 0. */
  private[operators] val runningSum =
    Fold(sum(_), (base, in) => coalesce(base, lit(0L)) + in, Window.currentRow)

  /** Exclusive running minimum; `least` skips a NULL side ("no earlier row"). */
  private val exclusiveMin = Fold(min(_), least(_, _), -1L)

  /** The sharded scan: the one place per-shard aggregates become per-row
    * running values, with no window over the whole input. `sharded` carries
    * the `keys` columns (group columns, then the shard column last); shards
    * must be contiguous ranges of the `order` within each group. Phase 1
    * folds one total per (group, shard). Phase 2 folds each shard's
    * strictly-earlier totals into its base through a triangular self-join:
    * the totals table has at most one row per (group, shard), so the join
    * is constant-sized and no single-partition window appears in the plan.
    * Phase 3 runs the fold within each shard (a window partitioned by the
    * keys) and stitches the broadcast base on with a NULL-safe equality,
    * because a using-column join drops the rows of a NULL group or shard.
    * Any contiguous split gives the same output: boundaries move
    * parallelism, never results. Adds each `outCol` of `valOuts`. */
  private[operators] def shardedScan(
      sharded: DataFrame, keys: Seq[String], order: Seq[Column],
      valOuts: Seq[(String, String)], fold: Fold): DataFrame = {
    val vi = valOuts.indices
    val totals = sharded.groupBy(keys.map(col): _*).agg(
      fold.agg(col(valOuts.head._1)).as("_tot_0_"),
      vi.tail.map(i => fold.agg(col(valOuts(i)._1)).as(s"_tot_${i}_")): _*)
    val earlier = totals.select(keys.map(c => col(c).as(s"_e_$c")) ++
      vi.map(i => col(s"_tot_${i}_").as(s"_etot_${i}_")): _*)
    val earlierCond = keys.init.map(c => col(c) <=> col(s"_e_$c"))
      .foldLeft(col(s"_e_${keys.last}") < col(keys.last))(_ && _)
    val bases = totals.join(earlier, earlierCond, "left")
      .groupBy(keys.map(col): _*)
      .agg(fold.agg(col("_etot_0_")).as("_base_0_"),
        vi.tail.map(i => fold.agg(col(s"_etot_${i}_")).as(s"_base_${i}_")): _*)
      .select(keys.map(c => col(c).as(s"_b_$c")) ++
        vi.map(i => col(s"_base_${i}_")): _*)
    val wIn = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, fold.frameEnd)
    val stitched = sharded.join(broadcast(bases),
      keys.map(c => col(c) <=> col(s"_b_$c")).reduce(_ && _))
    valOuts.zipWithIndex.foldLeft(stitched) { case (d, ((v, c), i)) =>
      d.withColumn(c,
        fold.stitch(col(s"_base_${i}_"), fold.agg(col(v)).over(wIn)))
    }
  }

  /** NTILE(`buckets`) of the 1-based global rank in `rankCol` among the
    * `nCol` rows, in closed form: bucket sizes differ by at most 1, earlier
    * buckets larger, so with `b = N div buckets` and `r = N mod buckets`
    * a rank ≤ (b+1)·r lands in `(rank−1) div (b+1) + 1`, any other in
    * `r + (rank−(b+1)·r−1) div b + 1`. Pure integer arithmetic, so it
    * equals any engine's `ntile(buckets)` over the same total order. */
  private[graft] def ntileOf(rankCol: String, nCol: String,
                             buckets: Int): Column = {
    val b = s"($nCol div $buckets)"
    val r = s"($nCol % $buckets)"
    // CASE is lazy, so the `div b` branch never runs when N < buckets
    // (b = 0 ⇒ every rank takes the THEN branch)
    expr(s"""CASE WHEN $rankCol <= ($b + 1) * $r
            | THEN ($rankCol - 1) div ($b + 1) + 1
            | ELSE $r + ($rankCol - ($b + 1) * $r - 1) div $b + 1
            |END""".stripMargin)
  }

  /** Split each document into chunks of `chunkTokens` whitespace tokens,
    * consecutive chunks overlapping by `overlap` tokens (the sliding-window
    * context-preservation trick). Output: one row per chunk with
    * `chunk_index` (0-based) and `chunk_text`; a document shorter than one
    * chunk yields exactly its own text. Pure per-row explode — shuffle-free,
    * linear at any corpus size. */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
                     chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunk=$chunkTokens")
    val stride = chunkTokens - overlap
    df.select(col(idCol), split(col(textCol), " ").as("_w_"))
      // chunk starts: 1, 1+stride, ... while start <= len (so a final
      // partial window is kept); integer ceil-div keeps the count
      // bit-portable to any SQL engine (no float rounding at boundaries)
      .withColumn("_nc_", greatest(lit(1),
        expr(s"(size(_w_) - $overlap + ${stride - 1}) div $stride").cast("int")))
      .select(col(idCol), col("_w_"),
        explode(expr(s"sequence(0, _nc_ - 1)")).as("chunk_index"))
      .select(col(idCol), col("chunk_index"),
        expr(s"array_join(slice(_w_, chunk_index * $stride + 1, $chunkTokens), ' ')")
          .as("chunk_text"))
  }

  /** Pack a token-counted stream into fixed-`seqLen` training sequences by
    * the concat-and-chunk rule: documents are laid end to end in `idCol`
    * order and the token stream is cut every `seqLen` tokens; a document's
    * `seq_id` is the sequence its FIRST token lands in. Output adds
    * `seq_id` and `seq_offset` (the document's start position within its
    * sequence).
    *
    * Scale: the running sum is a single global window — one sequential
    * pass, fine up to one task's comfort. [[packSequencesSharded]] is the
    * 100 TB form: identical output, parallel across shards. An eager
    * row-count probe raises by name above `singleTaskRowBound`
    * ([[Guards.SingleTaskRowBound]], 2^22) instead of silently serializing
    * a large input through one task; `<= 0` opts into the sequential
    * cost. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    seqLen: Int,
                    singleTaskRowBound: Long =
                      Guards.SingleTaskRowBound): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    Guards.singleTaskLaneProbe(df, "packSequences", singleTaskRowBound,
      "use packSequencesSharded (bit-identical output, parallel across " +
        "shards) or pass singleTaskRowBound = 0 to accept the cost")
    val w = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum_", sum(col(tokensCol)).over(w))
      .withColumn("_start_", col("_cum_") - col(tokensCol))
      // integer `div`, not `/`: double division loses exactness past 2^53
      // cumulative tokens, and this module's contract is bit-portability
      // at any magnitude
      .withColumn("seq_id", expr(s"_start_ div $seqLen").cast("long"))
      .withColumn("seq_offset", (col("_start_") % seqLen).cast("long"))
      .drop("_cum_", "_start_")
  }

  /** Sharded running total: adds `cumCol` = running sum of `tokensCol` in
    * `idCol` order (within each `groupCols` group if given), IDENTICAL to
    * the single `sum().over(orderBy(id))` window but with no global window:
    * a row's running total is (sum of all earlier shards' totals) + (running
    * sum within its own shard), computed by [[shardedScan]].
    *
    * Shards are contiguous `idCol` ranges cut from the id span
    * ([[withShard]]). Skew in the id space degrades speed, not correctness;
    * size `numShards` so one shard's rows fit a single task comfortably.
    * Requires a numeric `idCol` (doc ids), enforced by name at plan-build
    * time (see [[numericIdGuarded]]). When `idCol` is not unique, pass
    * `tieCols` to make the within-shard order total: shard assignment
    * depends only on `idCol`, so tied rows always share a shard and the
    * tie-broken output is deterministic.
    *
    * NULL ids are unsupported by default unless every id is NULL (a NULL
    * shard has no earlier shard); with `nullsLast = true` NULL-id rows get a
    * dedicated LAST shard and with `nullsFirst = true` a dedicated FIRST
    * shard, ordered among themselves by `tieCols` — the
    * `ORDER BY x ASC NULLS LAST/FIRST` running totals. */
  def runningTotalSharded(df: DataFrame, idCol: String, tokensCol: String,
                          cumCol: String, numShards: Int = 32,
                          groupCols: Seq[String] = Nil,
                          tieCols: Seq[String] = Nil,
                          nullsLast: Boolean = false,
                          nullsFirst: Boolean = false): DataFrame =
    runningTotalsSharded(df, idCol, Seq(tokensCol -> cumCol), numShards,
      groupCols, tieCols, nullsLast, nullsFirst)

  /** Multi-column [[runningTotalSharded]]: one scan producing SEVERAL
    * running totals over the SAME (id, tie) order, where nested calls would
    * re-evaluate the inner scan's whole pipeline in the outer one. Each
    * column equals the single-column form's. */
  def runningTotalsSharded(df: DataFrame, idCol: String,
                           valCums: Seq[(String, String)],
                           numShards: Int = 32,
                           groupCols: Seq[String] = Nil,
                           tieCols: Seq[String] = Nil,
                           nullsLast: Boolean = false,
                           nullsFirst: Boolean = false): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(valCums.nonEmpty, "at least one (valCol, cumCol) pair")
    require(!(nullsLast && nullsFirst), "nullsLast and nullsFirst conflict")
    val nullShard = if (nullsLast) Some(numShards.toLong)
      else if (nullsFirst) Some(-1L) else None
    val sharded = withShard(numericIdGuarded(df, idCol, "runningTotalSharded"),
      idCol, numShards, nullShard)
    shardedScan(sharded, groupCols :+ "_shard_", (idCol +: tieCols).map(col),
        valCums, runningSum)
      .select(df.columns.map(col) ++ valCums.map(p => col(p._2)): _*)
  }

  /** Sharded EXCLUSIVE running minimum: adds `cumCol` = min of `valCol` over
    * all STRICTLY-earlier rows in `idCol` ascending order (NULL for the
    * globally first row), identical to
    * `min(val).over(orderBy(id).rowsBetween(unboundedPreceding, -1))`, by
    * the same [[shardedScan]] as [[runningTotalSharded]]. Requires a numeric
    * `idCol` with no duplicates (the skyline/frontier shape: `idCol` comes
    * out of a groupBy); a NULL id sorts FIRST (the window default) via a
    * dedicated first shard; a non-numeric `idCol` is rejected by name (see
    * [[numericIdGuarded]]). */
  def runningMinSharded(df: DataFrame, idCol: String, valCol: String,
                        cumCol: String, numShards: Int = 32): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val sharded = withShard(numericIdGuarded(df, idCol, "runningMinSharded"),
      idCol, numShards, nullShard = Some(-1L))
    shardedScan(sharded, Seq("_shard_"), Seq(col(idCol)),
        Seq(valCol -> cumCol), exclusiveMin)
      .select(df.columns.map(col) :+ col(cumCol): _*)
  }

  /** Global NTILE without a global window: the global rank in
    * (`idCol`, `tieCols`) ascending order comes from [[runningTotalSharded]]
    * over a constant-1 column and the tier from [[ntileOf]]. Descending
    * semantics: negate the key; `nullsLast`/`nullsFirst` rank NULL keys
    * after/before every real key (ordered by `tieCols`), the
    * `ASC NULLS LAST/FIRST` total orders. Adds `bucketCol` (1-based). */
  def ntileSharded(df: DataFrame, idCol: String, buckets: Int,
                   numShards: Int = 32, tieCols: Seq[String] = Nil,
                   bucketCol: String = "bucket",
                   nullsLast: Boolean = false,
                   nullsFirst: Boolean = false): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val ranked = runningTotalSharded(
      df.withColumn("_one_", lit(1L)), idCol, "_one_", "_gr_",
      numShards = numShards, tieCols = tieCols, nullsLast = nullsLast,
      nullsFirst = nullsFirst)
    ranked.crossJoin(broadcast(df.agg(count(lit(1)).as("_n_"))))
      .withColumn(bucketCol, ntileOf("_gr_", "_n_", buckets))
      .select(df.columns.map(col) :+ col(bucketCol): _*)
  }

  /** Length-bucketed batching — the padding-waste reducer every training
    * dataloader runs: rows bucket by ⌊log2(tokens)⌋ (so batch members are
    * within 2x of each other), and within a bucket consecutive rows (by
    * `idCol`) form batches of `batchSize`. Padding cost is then bounded by
    * the bucket's upper edge instead of the global max length.
    *
    * Output adds: `bucket` (log2 tier), `batch_id` (globally unique:
    * bucket * 2^40 + ordinal — collision-free below 2^40 batches per
    * bucket), `pad_to` (the bucket's power-of-two upper edge, the tensor
    * width a loader allocates). All integer arithmetic — bit-portable and
    * SQL-replayable. 100 TB shape: one shuffle on the bucket key for the
    * per-bucket windows; no global window. */
  def lengthBucketedBatches(df: DataFrame, idCol: String, tokensCol: String,
                            batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val bucketed = df.withColumn("bucket",
      // floor(log2(n)) as binary-string length, NOT float log2 (which can
      // land on either side of an exact power of two per engine): the
      // length of bin(n) minus 1 is exact integer arithmetic everywhere
      expr(s"cast(length(bin(cast(greatest($tokensCol, 1) as bigint))) - 1 as bigint)"))
    bucketed
      // `div`, not `/`: Column./ is double division (the exact pitfall the
      // pk01 seq_id fix removed)
      .withColumn("batch_id",
        col("bucket") * lit(1L << 40) +
          expr(s"cast((row_number() over (partition by bucket order by $idCol) - 1) div $batchSize as bigint)"))
      .withColumn("pad_to",
        expr("shiftleft(cast(1 as bigint), cast(bucket + 1 as int))"))
  }

  /** Two-phase sharded [[packSequences]] — the 100 TB plan promised
    * there, with IDENTICAL output: a document's (seq_id, seq_offset)
    * depends only on its global start position, which
    * [[runningTotalSharded]] reconstructs without a global window. */
  def packSequencesSharded(df: DataFrame, idCol: String, tokensCol: String,
                           seqLen: Int, numShards: Int = 32): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    runningTotalSharded(df, idCol, tokensCol, "_cum_", numShards)
      .withColumn("_start_", col("_cum_") - col(tokensCol))
      .withColumn("seq_id", expr(s"_start_ div $seqLen").cast("long"))
      .withColumn("seq_offset", (col("_start_") % seqLen).cast("long"))
      .drop("_cum_", "_start_")
  }

  /** Whole-document bin packing by BEST-FIT DECREASING — the packing a
    * dataloader uses when documents must NOT be split across training
    * sequences (instruction tuning, contrastive pairs), where
    * [[packSequences]]' concat-and-chunk rule cuts mid-document. Items are
    * taken longest-first (ties by id) and each is placed into the FULLEST
    * open bin that still fits it (ties: lowest bin id), opening a new bin
    * only when none fits — the classic 11/9·OPT + 6/9 guarantee
    * (Dósa 2007, public) against the ceil(Σtokens/capacity) lower bound.
    *
    * The fold is inherently sequential, so scale comes from sharding
    * (the [[runningTotalSharded]] discipline): items split into
    * `numShards` contiguous id ranges, BFD runs independently per shard
    * (one task each, items of one shard in memory), and bin ids are
    * namespaced `shard · 2^40 + local` (collision-free below 2^40 bins
    * per shard, the [[lengthBucketedBatches]] convention). Unlike the
    * prefix sum, BFD is order-sensitive ACROSS the whole item set, so
    * sharding is not output-neutral: each shard's packing is individually
    * valid and deterministic, and the waste bound degrades by at most one
    * underfull bin per shard — the price of parallelism, stated rather
    * than hidden. Items larger than `capacity` get a dedicated oversize
    * bin (flagged, never shared).
    *
    * Requires a numeric `idCol`; NULL-id items are dropped. Output: one
    * row per item —
    * (`idCol`, `tokensCol`, shard BIGINT, bin_id BIGINT, oversized
    * BOOLEAN). Per-bin fills are one groupBy away. */
  def packBestFitDecreasing(df: DataFrame, idCol: String, tokensCol: String,
                            capacity: Long, numShards: Int = 1): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val spark = df.sparkSession
    import spark.implicits._
    withShard(df.where(col(idCol).isNotNull), idCol, numShards)
      .select(col("_shard_"), col(idCol).cast("long").as("_id_"),
        col(tokensCol).cast("long").as("_w_"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val items = it.map { case (_, id, w) => (id, w) }.toArray
          .sortBy { case (id, w) => (-w, id) }
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        items.iterator.map { case (id, w) =>
          val bin =
            if (w > capacity) { fills += w; fills.length - 1 }
            else {
              // fullest bin that still fits; linear scan is O(bins) per
              // item — fine per shard; a fill-ordered tree drops it to
              // O(log bins) if a shard ever holds millions of items
              var best = -1
              var i = 0
              while (i < fills.length) {
                if (fills(i) + w <= capacity &&
                  (best < 0 || fills(i) > fills(best))) best = i
                i += 1
              }
              if (best < 0) { fills += w; fills.length - 1 }
              else { fills(best) += w; best }
            }
          (id, w, shard, shard * (1L << 40) + bin, w > capacity)
        }
      }
      .toDF(idCol, tokensCol, "shard", "bin_id", "oversized")
  }

  /** Shifted-right mix64 for modular cut-point draws: `mix64(x) >>> 1` is
    * always non-negative, so `% m` means the same thing to a signed engine
    * (Spark) and an unsigned one (the DuckDB oracle) for ANY modulus —
    * the trick that keeps arbitrary-modulus draws engine-portable where
    * [[Sampling.shuffleShards]] needs a power-of-two shard count. */
  private val mixShiftUdf = udf { (x: Long) =>
    graft.functions.TextKernels.mix64(x) >>> 1 }

  /** Fill-in-the-middle sample construction (Bavarian et al. 2022,
    * public): split each document's token stream into prefix / middle /
    * suffix at two cut points drawn deterministically from the id — two
    * independent mix64 streams (the second stepped by SplittableRandom's
    * golden gamma), each mapped to a cut in [1, n-1], ordered. Equal draws
    * give an empty middle (a real FIM case). Documents shorter than
    * `minTokens` pass through whole as prefix. The split is a pure
    * function of (id, text): reproducible across epochs, retries, and
    * engines — no RNG state anywhere.
    *
    * Per-row Columns + two scalar hashes — shuffle-free, linear. */
  def fimSplits(df: DataFrame, idCol: String, textCol: String,
                minTokens: Int = 4): DataFrame = {
    val gamma = lit(0x9e3779b97f4a7c15L)
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val h1 = mixShiftUdf(col(idCol).cast("long"))
    val h2 = mixShiftUdf(col(idCol).cast("long") + gamma)
    df.select(col(idCol), toks.as("_ts_"), h1.as("_h1_"), h2.as("_h2_"))
      .withColumn("_n_", size(col("_ts_")))
      // greatest(..., 1): columns evaluate eagerly even under the when()
      // guards below, so a 1-token doc must not feed pmod a zero modulus
      .withColumn("_c1_", pmod(col("_h1_"), greatest(col("_n_") - 1, lit(1))) + 1)
      .withColumn("_c2_", pmod(col("_h2_"), greatest(col("_n_") - 1, lit(1))) + 1)
      .withColumn("_lo_", when(col("_n_") >= minTokens,
        least(col("_c1_"), col("_c2_"))))
      .withColumn("_hi_", when(col("_n_") >= minTokens,
        greatest(col("_c1_"), col("_c2_"))))
      .select(col(idCol), col("_n_").cast("int").as("n_tokens"),
        when(col("_lo_").isNull, array_join(col("_ts_"), " "))
          .otherwise(array_join(slice(col("_ts_"), lit(1), col("_lo_")), " "))
          .as("prefix"),
        when(col("_lo_").isNull, lit(""))
          .otherwise(array_join(
            slice(col("_ts_"), col("_lo_") + 1, col("_hi_") - col("_lo_")), " "))
          .as("middle"),
        when(col("_lo_").isNull, lit(""))
          .otherwise(array_join(
            slice(col("_ts_"), col("_hi_") + 1, col("_n_") - col("_hi_")), " "))
          .as("suffix"))
  }
}

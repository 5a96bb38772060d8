package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tuning / evaluation operators (reference SURVEY.md §2.4, §2.8):
  * fold builders with group-consistency, rank-based splits, and the binned
  * binary-threshold optimizer. */
object Tuning {

  // ---------------------------------------------------------------------
  // RandomSplit (reference: tuning/RandomSplit.scala:14-67)
  // ---------------------------------------------------------------------
  /** Assign each row a fold in [0, numFolds). Deterministic under `seed`;
    * when `groupByCols` is set, all rows of a group land in the same fold
    * (hash-based, no extra shuffle beyond the hash evaluation). */
  def assignFolds(df: DataFrame, numFolds: Int, seed: Long,
                  groupByCols: Seq[String] = Nil,
                  foldCol: String = "fold"): DataFrame = {
    // pmod(x, 0) is NULL with ANSI off — every row would get a NULL fold
    // and downstream train/test filters silently drop the whole dataset
    require(numFolds >= 1, s"numFolds must be >= 1, got $numFolds")
    val f =
      if (groupByCols.nonEmpty)
        pmod(hash(groupByCols.map(col) :+ lit(seed): _*), lit(numFolds))
      else
        // xxhash of a per-row deterministic tuple: rows keep their fold
        // across runs as long as their content is unchanged
        pmod(xxhash64(struct(df.columns.map(col): _*), lit(seed)), lit(numFolds))
    df.withColumn(foldCol, f.cast("int"))
  }

  /** Engine-portable fold assignment: fold = (first 60 bits of
    * md5(key₁|key₂|…|seed)) mod numFolds. Same shape as [[assignFolds]]
    * (deterministic, group-consistent, shuffle-free) but built ONLY from
    * functions with identical semantics in any SQL engine (md5 of the same
    * string is the same hex everywhere; 15 hex chars parse to a
    * non-negative long), so the split itself is oracle-gatable — a property
    * worth having when a 100 TB train/eval split must be reproducible
    * outside Spark. */
  def assignFoldsStable(df: DataFrame, numFolds: Int, keyCols: Seq[String],
                        seed: Long, foldCol: String = "fold"): DataFrame = {
    require(numFolds >= 1, s"numFolds must be >= 1, got $numFolds")
    require(keyCols.nonEmpty, "assignFoldsStable needs explicit key columns")
    // concat_ws silently SKIPS nulls, so ('a', NULL) and ('a') would
    // collapse to the same fold key — a collision AND an engine divergence
    // (SQL '||' propagates NULL). Values are escaped (\ -> \\, | -> \|)
    // BEFORE joining on '|', which makes the joined key injective in the
    // key tuple and makes the bare-pipe NULL sentinel unrepresentable by
    // any real value — without escaping, a literal "<|null|>" string or a
    // '|' inside a key would still collide.
    def esc(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(c.cast("string"),
        lit("\\\\"), lit("\\\\\\\\")), lit("\\|"), lit("\\\\|"))
    val key = concat_ws("|",
      keyCols.map(c => coalesce(esc(col(c)), lit("<|null|>"))) :+
        lit(seed.toString): _*)
    val f = pmod(conv(substring(md5(key), 1, 15), 16, 10).cast("long"),
      lit(numFolds.toLong))
    df.withColumn(foldCol, f.cast("int"))
  }

  /** (train, test) pair for one fold index. */
  def trainTest(df: DataFrame, numFolds: Int, fold: Int, seed: Long,
                groupByCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    // an out-of-range fold index yields an EMPTY test set and a train set
    // equal to the full data — a silently useless split
    require(fold >= 0 && fold < numFolds,
      s"fold must be in [0, $numFolds), got $fold")
    val withFold = assignFolds(df, numFolds, seed, groupByCols)
    (withFold.where(col("fold") =!= fold).drop("fold"),
      withFold.where(col("fold") === fold).drop("fold"))
  }

  /** Out-of-fold predictions (reference FoldsPredictor): fit on k-1 folds,
    * predict the held-out fold, union — every row predicted exactly once
    * by a model that never saw it. */
  def foldsPredict(df: DataFrame, numFolds: Int, seed: Long)
                  (fitPredict: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val withFold = assignFolds(df, numFolds, seed)
    (0 until numFolds).map { k =>
      fitPredict(
        withFold.where(col("fold") =!= k).drop("fold"),
        withFold.where(col("fold") === k).drop("fold"))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------------
  // RankSplit (reference: tuning/RankSplit.scala:13-101) — folds by ranked
  // segments of an aggregated metric (e.g. popularity or recency splits)
  // ---------------------------------------------------------------------
  def rankSplit(df: DataFrame, groupCols: Seq[String], metricCol: String,
                agg: String, numFolds: Int, foldCol: String = "fold"): DataFrame = {
    val aggExpr = agg match {
      case "sum" => sum(col(metricCol))
      case "count" => count(lit(1))
      case "avg" => avg(col(metricCol))
      case other => throw new IllegalArgumentException(s"agg: $other")
    }
    // NON-FINITE metrics rejected IN-PLAN (same contract as
    // TextAnalysis.scoreBuckets, which keys the same sharded rank): a
    // NaN sum/avg truncates to 0 in the bigint shard key, silently
    // corrupting the shard bounds (hi can land below lo) and the fold
    // assignment vs the old ORDER BY (which sorted NaN last) — a NaN
    // metric is an upstream bug and should say so by name. NULL metrics
    // stay allowed (nullsFirst below preserves their NULLS FIRST order).
    val checkedMetric = Guards.finiteOrRaise(col("_metric_"), col("_metric_"),
      Guards.nonFiniteMsg("rankSplit", s"$agg($metricCol) metric",
        col("_metric_"), lit(" for group "),
        coalesce(concat_ws(",",
          groupCols.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*),
          lit("NULL"))))
    val grouped = df.groupBy(groupCols.map(col): _*)
      .agg(aggExpr.as("_metric_"))
      .withColumn("_metric_", checkedMetric)
    // exact NTILE over (metric, group key) without a global ordered
    // window: the grouped table is group-cardinality-sized — per-customer
    // splits at 100 TB make it data-sized, so the single-partition sort
    // funnel would be the job. ntileSharded shards
    // on the metric (order-consistent by construction) and breaks ties on
    // the group columns, exactly the old ORDER BY (_metric_, struct(...));
    // nullsFirst preserves that order's NULLS FIRST default for groups
    // whose metric aggregates to NULL (all-NULL sum/avg inputs).
    val ranked = Packing
      .ntileSharded(grouped, "_metric_", numFolds,
        tieCols = groupCols, bucketCol = foldCol, nullsFirst = true)
      .withColumn(foldCol, (col(foldCol) - 1).cast("int"))
      .drop("_metric_")
    df.join(ranked, groupCols)
  }

  // ---------------------------------------------------------------------
  // BinaryOptimalEvaluator (reference: tuning/BinaryOptimalEvaluator.scala
  // :21-210 + evaluation/BinaryMetrics.scala): binned threshold sweep.
  // Distributed part = one groupBy over `bins` buckets; the sweep itself
  // runs on the collected (tiny) histogram.
  // ---------------------------------------------------------------------
  case class BinaryMetrics(
      threshold: Double, tp: Long, fp: Long, tn: Long, fn: Long,
      precision: Double, recall: Double, f1: Double, accuracy: Double,
      basePrecision: Double, baseRecall: Double, baseF1: Double,
      auc: Double, rocCurve: Seq[(Double, Double)])

  /** Optimize a decision threshold over `scoreCol` against binary
    * `labelCol`. `target` ∈ f1 | accuracy | "precision:0.85" |
    * "recall:0.9" (constrained forms maximize the complementary metric
    * subject to the floor, like the reference's `optimize`). */
  def optimizeThreshold(df: DataFrame, scoreCol: String, labelCol: String,
                        target: String = "f1", bins: Int = 500): BinaryMetrics = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    // NaN scores sort ABOVE every real score through least/greatest (NaN
    // is greatest in Spark), so a scorer's 0/0 failure rows would silently
    // fill the TOP bin and skew every threshold; a NULL or non-binary
    // label silently counts as (partial) negative/positive mass. Both are
    // upstream bugs — raise by name (the perDomainCap contract).
    val sChecked = Guards.finiteOrRaiseStrict(col(scoreCol), col(scoreCol),
      Guards.nonFiniteMsg("optimizeThreshold", "score", col(scoreCol)))
    val yRaw = col(labelCol).cast("double")
    val yChecked = when(yRaw === 0.0 || yRaw === 1.0, yRaw)
      .otherwise(raise_error(concat(
        lit("optimizeThreshold: label must be 0 or 1, got "),
        coalesce(col(labelCol).cast("string"), lit("NULL")))))
    val hist = df.select(
        least(greatest(sChecked, lit(0.0)), lit(1.0)).as("s"),
        yChecked.as("y"))
      .groupBy(least(floor(col("s") * bins), lit(bins - 1)).as("bin"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong, r.getLong(2)))
      .sortBy(_._1)

    val totalPos = hist.map(_._2).sum
    val totalN = hist.map(_._3).sum
    val totalNeg = totalN - totalPos

    def metricsAt(binThreshold: Long): (Long, Long, Long, Long) = {
      // predict positive when score >= threshold(bin)
      val predPos = hist.filter(_._1 >= binThreshold)
      val tp = predPos.map(_._2).sum
      val fp = predPos.map(x => x._3 - x._2).sum
      (tp, fp, totalNeg - fp, totalPos - tp)
    }

    def prf(tp: Long, fp: Long, tn: Long, fn: Long): (Double, Double, Double, Double) = {
      val p = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
      val r = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
      val f = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
      val a = (tp + tn).toDouble / totalN.max(1)
      (p, r, f, a)
    }

    val candidates = (0L to bins.toLong).map { b =>
      val (tp, fp, tn, fn) = metricsAt(b)
      val (p, r, f, a) = prf(tp, fp, tn, fn)
      (b, tp, fp, tn, fn, p, r, f, a)
    }
    val best = target.split(":") match {
      case Array("f1") => candidates.maxBy(c => (c._8, -c._1))
      case Array("accuracy") => candidates.maxBy(c => (c._9, -c._1))
      case Array("precision", floor0) =>
        val fl = floor0.toDouble
        val ok = candidates.filter(_._6 >= fl)
        if (ok.nonEmpty) ok.maxBy(c => (c._7, -c._1)) // max recall s.t. precision
        else candidates.maxBy(c => (c._6, -c._1))
      case Array("recall", floor0) =>
        val fl = floor0.toDouble
        val ok = candidates.filter(_._7 >= fl)
        if (ok.nonEmpty) ok.maxBy(c => (c._6, -c._1)) // max precision s.t. recall
        else candidates.maxBy(c => (c._7, -c._1))
      case other => throw new IllegalArgumentException(s"target: ${other.mkString(":")}")
    }

    // base rates = predict-all-positive
    val (bp, br, bf, _) = prf(totalPos, totalNeg, 0, 0)
    // ROC by descending threshold + trapezoid AUC
    val roc = candidates.reverse.map { c =>
      val fpr = if (totalNeg == 0) 0.0 else c._3.toDouble / totalNeg
      val tpr = if (totalPos == 0) 0.0 else c._2.toDouble / totalPos
      (fpr, tpr)
    }
    val auc = roc.sliding(2).collect { case Seq((x1, y1), (x2, y2)) =>
      (x2 - x1) * (y1 + y2) / 2
    }.sum

    val (p, r, f, a) = prf(best._2, best._3, best._4, best._5)
    BinaryMetrics(best._1.toDouble / bins, best._2, best._3, best._4, best._5,
      p, r, f, a, bp, br, bf, auc, roc)
  }

  /** RawPrediction2Score (reference: evaluation/RawPrediction2Score.scala):
    * raw binary margin -> calibrated (0,1) score via atan squash. */
  def rawToScore(df: DataFrame, rawCol: String, out: String = "score"): DataFrame =
    df.withColumn(out,
      (atan(col(rawCol)) / lit(math.Pi) + lit(0.5)))

  /** Exact best binary split per feature — the EXACT GREEDY inner loop of
    * every decision tree / GBDT trainer (CART; XGBoost's "exact greedy
    * algorithm", Chen & Guestrin KDD'16 §3.1), run distributed with no
    * sampling and no quantile-sketch approximation: for each feature,
    * every distinct value v is a candidate threshold (left = rows ≤ v),
    * and the winner maximizes the weighted children purity
    *   score(v) = (P_L² + Q_L²)/N_L + (P_R² + Q_R²)/N_R
    * (P/Q = positive/negative counts), which is an affine transform of
    * negative weighted Gini impurity — same argmax, but integer-exact:
    * score is ranked as the 1e-6 fixed-point floor of the single
    * fraction ((P_L²+Q_L²)·N_R + (P_R²+Q_R²)·N_L) · 10⁶ div (N_L·N_R)
    * in DECIMAL(38,0), so the chosen split replays on any engine (a
    * float Gini can flip near-ties; the documented bound is N ≲ 5·10¹⁰
    * rows before 10⁶·N³ leaves DECIMAL(38)). Ties break to the smaller
    * threshold.
    *
    * Plan per feature: one distinct-value count aggregate (the
    * [[Temporal.ksStatistic]] shape), prefix sums via the two-phase
    * sharded running total (no unpartitioned window over the value
    * domain), totals as a broadcast scalar, and a sort-limit top-1 —
    * candidate count is the DISTINCT-VALUE count, never the row count.
    * Rows with a NULL feature or label are excluded from that feature's
    * split search (CART's default surrogate handling is out of scope).
    * Output: one row per feature that admits a split —
    * (feature, threshold, n_left, pos_left, n_right, pos_right,
    * score_micro), `threshold` = the winning "≤ v" cut. */
  def bestSplits(df: DataFrame, featureCols: Seq[String],
                 labelCol: String): DataFrame = {
    require(featureCols.nonEmpty, "at least one feature column")
    featureCols.map { f =>
      // pinned: unpinned, dt01 read 1.16 -> 1.65 s (sf0.1, local[4])
      val counts = Materialize.lazyRound(df
        .select(col(f).cast("long").as("_v_"),
          col(labelCol).cast("long").as("_y_"))
        .where(col("_v_").isNotNull && col("_y_").isNotNull)
        .groupBy("_v_")
        .agg(count(lit(1)).as("_n_"), sum(col("_y_")).as("_p_")))
      val totals = counts.agg(sum("_n_").as("_tn_"), sum("_p_").as("_tp_"),
        max("_v_").as("_vmax_"))
      // one scan for both cumulative columns
      Packing.runningTotalsSharded(counts, "_v_",
          Seq("_n_" -> "_nl_", "_p_" -> "_pl_"))
        .crossJoin(broadcast(totals))
        .where(col("_v_") < col("_vmax_")) // both sides non-empty
        .select(lit(f).as("feature"), col("_v_").as("threshold"),
          col("_nl_").as("n_left"), col("_pl_").as("pos_left"),
          (col("_tn_") - col("_nl_")).as("n_right"),
          (col("_tp_") - col("_pl_")).as("pos_right"))
        .withColumn("score_micro", expr(
          """CAST((
            |  (CAST(pos_left AS DECIMAL(38,0)) * pos_left +
            |   CAST(n_left - pos_left AS DECIMAL(38,0)) * (n_left - pos_left)
            |  ) * n_right +
            |  (CAST(pos_right AS DECIMAL(38,0)) * pos_right +
            |   CAST(n_right - pos_right AS DECIMAL(38,0)) * (n_right - pos_right)
            |  ) * n_left
            |) * 1000000 div (CAST(n_left AS DECIMAL(38,0)) * n_right)
            |AS BIGINT)""".stripMargin))
        .orderBy(col("score_micro").desc, col("threshold"))
        .limit(1)
    }.reduce(_ unionByName _)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types.{FloatType, IntegerType}
import graft.functions.TextKernels

/** Fuzzy full-text lookup join — the Spark-native replacement for the
  * reference's Lucene-backed `luceneLookup`
  * (/root/reference/mllib/src/main/scala/index/implicits.scala:15-392).
  *
  * Semantics preserved (see FIXTURES.md §1): for every left row, the single
  * best-scoring right row by approximate text match of `query` against
  * `text`; LEFT OUTER (no match ⇒ right columns null-padded); output =
  * left columns ++ right columns ++ `_score_: float, _tags_: array<string>,
  * _startIndex_: int, _endIndex_: int` (char span of the matched region of
  * the query).
  *
  * Architecture — a pure DataFrame program, no per-executor sidecar index:
  *
  *  1. tokenize both sides (accent-fold + lowercase, offsets kept);
  *  2. candidate generation = inverted-index equi-join on token; fuzzy
  *     candidates (maxLevDistance > 0) via SymSpell deletion-variant join,
  *     verified with bounded Levenshtein;
  *  3. TF-IDF-style scoring with Lucene-like doc-length normalization
  *     (`/sqrt(docLen)`) — this is what makes "IL" prefer the 2-token
  *     "Illinois, IL" over the 4-token "Des Plaines, US, IL". The
  *     candidates cross ONE exchange, hashed on the query id
  *     ([[Parallelism.byKey]]); every scoring aggregate and window is keyed
  *     on the query id plus more, so all of them run in place on the
  *     session's shuffle partitions. A pair's weights fold in query-position
  *     order through a running window sum read at the last position;
  *  4. strategy "ngram": matches must cluster within a query-token window
  *     (gap <= nNgrams) and the best cluster wins — proximity scoring that
  *     finds the best matching *subspan* of a long query (reference
  *     NgramStrategy, index/NgramStrategy.scala:21-292);
  *  5. top-K per left row via window row_number (deterministic tie-break on
  *     right row id), on the same query-id layout, then join back to the
  *     full rows.
  *
  * Scale properties (the reason this is NOT a Lucene port): every stage is a
  * shuffle-native relational op — tokenize/explode, hash joins on token,
  * partial+final aggregation, one window per left row id. No driver-side
  * state, no node-local index files, no collect. Candidate explosion on
  * frequent tokens is bounded by `maxDfRatio` (tokens present in more than
  * that fraction of right docs are treated as stopwords — the analogue of
  * the reference's stop-word list + minTokenLikehood drop), so worst-case
  * candidate volume is O(|left tokens| * maxDfRatio * |right|) and the plan
  * survives a 100x scale-up by adding partitions, not memory.
  *
  * Pins: the distinct queries and the right side, id-stamped, are pinned
  * eagerly with [[Materialize.round]]. So is the idf table of the join
  * keys (token ++ filter columns): the candidate guard's per-key counts
  * joined with each token's idf, read by the exact join, the fuzzy
  * lane's variant join and the guard. Its pin's own job observes the
  * projected candidate volume, so the guard runs no job of its own and
  * the action never recomputes the idf; with `candidateBound <= 0` the
  * pin is the same and only the comparison is skipped. The right-side
  * token index (read by the document lengths, the idf and the
  * candidate join) and, on the probed fuzzy lane, the two deletion-variant
  * frames (read by their volume probe and the variant join) are pinned
  * with [[Materialize.lazyRound]]: the first job that reads one computes
  * it. Scoring stays lazy, and every pin is freed with the returned plan:
  * no call leaves a SQL-cache entry behind.
  */
object FuzzyLookup {

  /** Projected-candidate bound for the in-plan explosion guard: the
    * maxDfRatio=1.0 / small-vocab shape scales as left×right, and the guard
    * makes that a named raise instead of a hang. Same order as the ANN
    * exact-lane bound ([[Similarity.BruteForcePairBound]]): 2^27 candidate
    * rows is far above every gated query and healthy gazetteer lookup, and
    * far below where the candidate equi-join becomes an effective hang. */
  val CandidatePairBound: Long = 1L << 27

  /** Sizing companion for the candidate guard (the [[Similarity.autoBits]]
    * / `autoK` convention): the largest `maxDfRatio` that keeps the
    * projected exact-candidate volume under `pairBound` even in the
    * adversarial case where EVERY left token hits a maximal-df right
    * token — Σ_t leftDf·rightDf <= leftTokens · (ratio · rightRows), so
    * ratio = pairBound / (leftTokens · rightRows). Clamped to
    * [1/rightRows, 1]: below 1/rightRows every token is pruned (df >= 1
    * by construction) and the lookup matches nothing.
    *
    * @param rightRows  right-side (catalog) row count
    * @param leftTokens total post-stopword token count over the DISTINCT
    *                   left queries (the memoized unit the pipeline pays
    *                   for) */
  def autoDfRatio(rightRows: Long, leftTokens: Long,
                  pairBound: Long = CandidatePairBound): Double = {
    require(rightRows > 0 && leftTokens > 0,
      s"autoDfRatio needs positive counts, got rightRows=$rightRows " +
        s"leftTokens=$leftTokens")
    math.min(1.0, math.max(1.0 / rightRows,
      pairBound.toDouble / (leftTokens.toDouble * rightRows.toDouble)))
  }

  /** @param maxLevDistance 0 = exact-token candidates only; 1-2 enables the
    *                       deletion-variant fuzzy path
    * @param minScore       matches scoring below are dropped (row null-padded)
    * @param boostAcronyms  2-3 char all-caps tokens matching on both sides
    *                       get `acronymBoost`
    * @param popularityCol  optional right column multiplied into the score
    * @param strategy       "standard" (whole query), "ngram" (best subspan)
    *                       or "predict" (peak-term-weight span — reference
    *                       PredictStrategy, index/PredictStrategy.scala)
    * @param nNgrams        ngram strategy: max token gap within a match cluster
    * @param maxDfRatio     right tokens with docFreq/N above this are ignored
    *                       as candidates (scale guard; 1.0 = off)
    * @param termWeights    per-token likelihoods; weight multiplies the term
    *                       score; tokens under `minTokenLikehood` dropped
    * @param topK           best K right rows per left row (reference: 1)
    * @param filterCols     structured equality filter (reference
    *                       index/IndexStrategy.scala:96-107): (leftCol,
    *                       rightCol) pairs that must be EQUAL for a match —
    *                       folded into the candidate equi-join as extra hash
    *                       keys, so mismatching candidates are never
    *                       generated (not post-filtered)
    * @param tieBreakCol    optional RIGHT column that breaks score ties in
    *                       the top-K window (ascending) instead of the
    *                       internal right row id — makes the chosen match
    *                       independent of partition layout and therefore
    *                       replayable by an external oracle
    * @param candidateBound projected-candidate guard: before
    *                       the candidate equi-join, the job that pins the
    *                       vocabulary-sized idf table computes
    *                       Σ_token leftDf·rightDf over the EXACT join
    *                       keys (token ++ filterCols) and
    *                       raises by name past this bound, pointing at
    *                       `maxDfRatio` / [[FuzzyLookup.autoDfRatio]].
    *                       The fuzzy lane (maxLevDistance > 0) runs a
    *                       second probe of its own on the deletion-
    *                       variant join keys — variant collisions can
    *                       explode even when exact token sets are
    *                       disjoint. <= 0 disables both — the explicit
    *                       quadratic opt-in, never default
    */
  case class Options(
      maxLevDistance: Int = 0,
      minScore: Double = 0.0,
      boostAcronyms: Boolean = false,
      acronymBoost: Double = 4.0,
      fuzzyFactor: Double = 0.25,
      popularityCol: Option[String] = None,
      stopWords: Set[String] = Set.empty,
      strategy: String = "standard",
      nNgrams: Int = 3,
      maxDfRatio: Double = 1.0,
      termWeights: Map[String, Double] = Map.empty,
      minTokenLikehood: Double = 0.4,
      topK: Int = 1,
      filterCols: Seq[(String, String)] = Nil,
      tieBreakCol: Option[String] = None,
      candidateBound: Long = CandidatePairBound)

  /** Per-call suffix for the candidate-volume observe metric — observed
    * metric names must be unique within a single query plan. */
  private val lookupSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private val tokUdf = udf((s: String) => TextKernels.tokenizeWithOffsets(s))
  private val levUdf = udf((a: String, b: String, bound: Int) =>
    TextKernels.boundedLevenshtein(a, b, bound))
  /** Token length above which the fuzzy lane refuses by name: deletion
    * variants number ~len^maxDeletes per token, so one 10 kB unbroken
    * "token" (a base64 blob or minified fragment in a query) allocates
    * ~5e7 strings inside the UDF — an executor hang, not a slow row.
    * 512 chars is far above any real word or gazetteer entry and caps
    * the per-token variant count at ~1.3e5. */
  val FuzzyTokenLengthBound: Int = 512

  private def variantsUdf(maxDel: Int) =
    udf((s: String) => {
      require(s.length <= FuzzyTokenLengthBound,
        s"FuzzyLookup fuzzy lane: a ${s.length}-char token exceeds the " +
          s"$FuzzyTokenLengthBound-char bound — deletion variants grow " +
          "as length^maxLevDistance (an executor hang on blob-like " +
          "tokens); clean or stopword mega-tokens, or use " +
          "maxLevDistance = 0 for exact-token candidates")
      TextKernels.deletionVariants(s, maxDel)
    })

  def lookup(left: DataFrame, queryCol: String, right: DataFrame,
             textCol: String, opts: Options = Options()): DataFrame = {
    val fIdx = opts.filterCols.indices
    val lf = opts.filterCols.zipWithIndex.map { case ((l, _), i) => col(l).as(s"_qf${i}_") }
    val rf = opts.filterCols.zipWithIndex.map { case ((_, r), i) => col(r).as(s"_rf${i}_") }
    // Query memoization (the distinct-word discipline used by the
    // tokenizers): a match is a pure function of (query text, filter
    // keys), so the scoring pipeline runs over the DISTINCT query set and
    // the final stitch joins results back BY VALUE. Two wins at scale:
    // (1) cost follows distinct query strings, not left rows — a left
    // with millions of rows over a small query vocabulary (lookupMulti's
    // second column, entity gazetteers) pays for the vocabulary only;
    // (2) the join-back is value-based, so there is no row-id to misalign
    // when the left is itself a shuffle output (a real bug observed at
    // sf0.1: monotonically_increasing_id re-evaluated in a different row
    // order between the pipeline and the stitch, landing one query's
    // match on another's row). The distinct query frame IS id-keyed
    // internally — Materialize.round pins those ids to one evaluation.
    val queries = left
      .select(Seq(col(queryCol).as("_qtext_")) ++ lf: _*)
      .distinct()
      .withColumn("_qlid_", monotonically_increasing_id())
      .transform(Materialize.round)
    // The right side is consumed by the token pipeline, the tie-break
    // select, and the stitch: pin its ids the same way (the catalog side
    // is the dictionary of the join — bounded by contract).
    val rightKeyed = right.withColumn("_rid_", monotonically_increasing_id())
      .transform(Materialize.round)
    // The scoring pipeline works on fully re-aliased projections (fresh
    // attribute ids), so re-joining queries/rightKeyed at the end is not an
    // ambiguous self-join.
    // No widening repartition: the frame feeds several branches, so its
    // exchange is paid per consumer, and it made fz01 2.5x slower.
    val texts = rightKeyed.select(
      Seq(col("_rid_").as("_trid_"), col(textCol).as("_ttext_")) ++ rf: _*)

    // ---- right side: inverted index as a DataFrame ------------------------
    val rightToks = texts
      .select(Seq(col("_trid_"), explode(tokUdf(col("_ttext_"))).as("t")) ++
        fIdx.map(i => col(s"_rf${i}_")): _*)
      .select(Seq(col("_trid_"), col("t.tok").as("rtok"), col("t.acro").as("racro")) ++
        fIdx.map(i => col(s"_rf${i}_")): _*)
      .where(!col("rtok").isin(opts.stopWords.toSeq: _*))
      .transform(Materialize.lazyRound)
    val docLen = rightToks.groupBy("_trid_").agg(count(lit(1)).as("_doclen_"))
    val totals = texts.agg(count(lit(1)).as("_n_docs_"))
    // token -> document frequency -> idf; frequent tokens pruned here, which
    // bounds the candidate join fan-out at scale.
    val tokenStats = rightToks.select("_trid_", "rtok").distinct()
      .groupBy("rtok").agg(count(lit(1)).as("_df_"))
      .crossJoin(broadcast(totals))
      .where(col("_df_") / col("_n_docs_") <= opts.maxDfRatio)
      .withColumn("_idf_", log(lit(1.0) + col("_n_docs_") / col("_df_")))
      .select("rtok", "_idf_")

    // ---- left side: query tokens with char offsets ------------------------
    // no widening repartition here either (see the right side)
    val leftToksBase = queries
      .select(Seq(col("_qlid_"), explode(tokUdf(col("_qtext_"))).as("t")) ++
        fIdx.map(i => col(s"_qf${i}_")): _*)
      .select(Seq(col("_qlid_"), col("t.tok").as("qtok"), col("t.pos").as("qpos"),
        col("t.start").as("qstart"), col("t.end").as("qend"),
        col("t.acro").as("qacro")) ++ fIdx.map(i => col(s"_qf${i}_")): _*)
      .where(!col("qtok").isin(opts.stopWords.toSeq: _*))
    // term-weight handling + predict strategy: keep only the +-2 window
    // around the peak-likelihood token (>= 0.75 * peak), the reference's
    // entity-mention span detection
    val leftToks =
      if (opts.termWeights.isEmpty) leftToksBase.withColumn("_tw_", lit(1.0))
      else {
        val wm = opts.termWeights
        val wU = udf((t: String) => wm.getOrElse(t, 0.0))
        val weighted = leftToksBase.withColumn("_tw_", wU(col("qtok")))
          .where(col("_tw_") >= opts.minTokenLikehood)
        if (opts.strategy == "predict") {
          val wl = Window.partitionBy("_qlid_")
          weighted
            .withColumn("_peak_", max(col("_tw_")).over(wl))
            .withColumn("_peakpos_",
              min(when(col("_tw_") === col("_peak_"), col("qpos"))).over(wl))
            .where(col("_tw_") >= col("_peak_") * 0.75 &&
              abs(col("qpos") - col("_peakpos_")) <= 2)
            .drop("_peak_", "_peakpos_")
        } else weighted
      }

    // ---- candidate-volume guard and the idf table ------------------------
    // With maxDfRatio = 1.0 on a low-vocabulary corpus the candidate join
    // is left×right by construction (an sf1 soak measured it): a hang,
    // not a slow query, so the fan-out probe raises BY NAME first. It
    // projects on the exact join keys (token ++ filter columns), so a
    // selective structured filter is credited, not over-counted. The
    // probe's per-key counts, joined with `_idf_`, are the idf table both
    // candidate joins read: one eager pin computes it once and observes
    // Σ left·right in its own job, so the guard costs no action of its
    // own and the lookup's action never recomputes the idf.
    val idfKeys = "rtok" +: fIdx.map(i => s"_rf${i}_")
    val (idfPin, m) = Observe.withMetrics(
      Guards.keyCounts(
        leftToks.select(col("qtok").as("rtok") +:
          fIdx.map(i => col(s"_qf${i}_").as(s"_rf${i}_")): _*),
        rightToks.select(idfKeys.map(col): _*),
        idfKeys).join(tokenStats, "rtok"),
      Guards.pairs.as("pairs"))(Materialize.round)
    val idf = idfPin.select(idfKeys.map(col) :+ col("_idf_"): _*)
    if (opts.candidateBound > 0) {
      val projected = m.get("pairs")
        .fold(idfPin.agg(Guards.pairs).head.getDecimal(0))(
          _.asInstanceOf[java.math.BigDecimal]).toBigInteger
      if (projected.compareTo(
          java.math.BigInteger.valueOf(opts.candidateBound)) > 0) {
        // sizing hint from measured inputs, computed on the raise path
        // only: the right count reads the pinned right table, the left
        // token volume one aggregate over the pinned distinct queries
        val nRight = texts.count()
        val nLeftToks = leftToks.count()
        val hint = autoDfRatio(math.max(nRight, 1L),
          math.max(nLeftToks, 1L), opts.candidateBound)
        throw new IllegalArgumentException(
          s"FuzzyLookup.lookup: projected candidate volume $projected " +
            s"(sum over join keys of leftTokenDf x rightTokenDf) exceeds " +
            s"candidateBound=${opts.candidateBound} — the candidate " +
            s"equi-join would emit that many rows (an effective hang; " +
            s"the sf1 soak measured this shape at left x right). Lower " +
            s"maxDfRatio (currently ${opts.maxDfRatio}; " +
            f"autoDfRatio suggests <= $hint%.6f for these inputs) so " +
            s"high-document-frequency tokens stop generating candidates, " +
            s"or accept the cost explicitly with candidateBound <= 0")
      }
    }
    val rightIndexed = rightToks.join(idf, idfKeys)

    // ---- candidates: exact inverted-index join ----------------------------
    val acroBoost =
      if (opts.boostAcronyms)
        when(col("qacro") && col("racro"), lit(opts.acronymBoost)).otherwise(lit(1.0))
      else lit(1.0)
    // structured filter: extra equality keys in the SAME hash join — the
    // planner hashes on (token ++ filters), so mismatching candidates never
    // materialize (reference IndexStrategy.scala:96-107)
    val filterCond = fIdx.foldLeft(col("qtok") === col("rtok")) {
      (c, i) => c && col(s"_qf${i}_") === col(s"_rf${i}_")
    }
    val exactCand = leftToks
      .join(rightIndexed, filterCond)
      .select(col("_qlid_"), col("_trid_"), col("qpos"), col("qstart"),
        col("qend"), col("qtok"),
        (col("_idf_") * acroBoost * col("_tw_")).as("_w_"))

    // ---- candidates: SymSpell deletion-variant fuzzy join -----------------
    val cand =
      if (opts.maxLevDistance <= 0) exactCand
      else {
        val vu = variantsUdf(opts.maxLevDistance)
        // the volume probe below evaluates the deletion-variant explode (the
        // lane's most expensive UDF) and the variant join reads it again:
        // pinned while probing; with the probe off it has one consumer
        val probing = opts.candidateBound > 0
        def variants(df: DataFrame, tok: String) = {
          val v = df.withColumn("_var_", explode(vu(col(tok))))
          if (probing) Materialize.lazyRound(v) else v
        }
        val lv = variants(leftToks, "qtok")
        // pinned before the idf join: pinning a plan with exchanges runs
        // them while the lookup is being built
        val rv = variants(rightToks, "rtok").join(idf, idfKeys)
        // the fuzzy lane's own probe: the exact-key projection above is
        // blind to explosions that arrive only through shared deletion
        // VARIANTS (disjoint token sets whose variants all collide, e.g.
        // serial numbers differing in one char), so this one projects on
        // the keys the variant join hashes on. Same knobs, same opt-out.
        if (probing) {
          val projectedF = Guards.fanOut(
            lv.select(Seq(col("_var_")) ++
              fIdx.map(i => col(s"_qf${i}_")): _*),
            rv.select(Seq(col("_var_")) ++
              fIdx.map(i => col(s"_rf${i}_").as(s"_qf${i}_")): _*),
            Seq("_var_") ++ fIdx.map(i => s"_qf${i}_")).pairs
          if (projectedF.compareTo(
              java.math.BigInteger.valueOf(opts.candidateBound)) > 0) {
            throw new IllegalArgumentException(
              s"requirement failed: FuzzyLookup.lookup: projected FUZZY " +
                s"candidate volume $projectedF (sum over deletion-variant " +
                s"keys of left x right occurrence counts) exceeds " +
                s"candidateBound=${opts.candidateBound} — the variant " +
                "join would emit that many rows before Levenshtein " +
                "verification (an effective hang); lower maxDfRatio, " +
                "lower maxLevDistance, or accept the cost explicitly " +
                "with candidateBound <= 0")
          }
        }
        val fuzzyFilter = fIdx.foldLeft(col("qtok") =!= col("rtok")) {
          (c, i) => c && col(s"_qf${i}_") === col(s"_rf${i}_")
        }
        val fuzzyCand = lv.join(rv, "_var_")
          .where(fuzzyFilter)
          .select(col("_qlid_"), col("_trid_"), col("qpos"), col("qstart"),
            col("qend"), col("qtok"), col("rtok"), col("_idf_"), col("_tw_"))
          .distinct()
          .withColumn("_lev_", levUdf(col("qtok"), col("rtok"), lit(opts.maxLevDistance)))
          .where(col("_lev_") <= opts.maxLevDistance)
          .select(col("_qlid_"), col("_trid_"), col("qpos"), col("qstart"), col("qend"),
            col("qtok"),
            (col("_idf_") * (lit(1.0) - col("_lev_") /
              greatest(length(col("qtok")), length(col("rtok")))) *
              lit(opts.fuzzyFactor) * col("_tw_")).as("_w_"))
        exactCand.unionByName(fuzzyCand)
      }

    // CANDIDATE-VOLUME OBSERVABILITY: candidate rows scale as
    // Σ_token (left-df × right-df) — on a low-vocabulary corpus with
    // maxDfRatio = 1.0 that is left×right by construction (the sf1 soak
    // measured fz02-shaped workloads doing exactly this). The named
    // observe metric surfaces the explosion in the listener/metrics
    // stream BEFORE it shows up as wall-time: a production caller seeing
    // `candidate_rows` >> left-rows should lower `maxDfRatio` (prunes
    // high-document-frequency tokens from the index, which is what
    // bounds the join fan-out). Name is per-call-unique because Spark
    // requires observed-metric names to be unique within one query plan
    // (lookupMulti composes several lookups into one).
    val candObserved = cand.observe(
      s"fuzzy_lookup_candidates_${lookupSeq.incrementAndGet()}",
      count(lit(1)).as("candidate_rows"))

    // ONE exchange for the whole scoring half: hashed on the query id by
    // number, a layout AQE keeps, every aggregate and window below (keyed
    // on `_qlid_` plus more) and the top-K window run in place on the
    // session's shuffle partitions; all of one query's candidates share a
    // task. The frame has one consumer.
    val byQuery = Parallelism.byKey(candObserved, "_qlid_")

    // best evidence per (left, right, query-token); the token itself rides
    // along to become the matched span's `_tags_` (the reference returns
    // `hit.ngram.terms` there, index/IndexStrategy.scala:170). The span
    // and token are functions of (query, qpos), so they join the grouping
    // keys: a hash aggregate, where `first` over a string needs a sort.
    val matched = byQuery.groupBy("_qlid_", "_trid_", "qpos", "qstart", "qend", "qtok")
      .agg(max(col("_w_")).as("_w_"))

    // ---- pair scoring: whole query, or best proximity cluster -------------
    // Strategy "ngram" vs the reference (index/NgramStrategy.scala:113-195):
    // the reference seeds at the best single n-gram and greedily expands
    // left/right one step at a time while the score strictly improves — a
    // LOCAL search that cannot leave its seed's contiguous run. This
    // implementation instead scores every gap-bounded cluster of matched
    // positions and takes the best, i.e. the GLOBAL optimum over candidate
    // spans. They disagree exactly when a far-away single token outscores
    // every seed-adjacent n-gram but a multi-token cluster elsewhere sums
    // higher: the reference stops at its seed, this picks the higher-scoring
    // cluster (FuzzyLookupSpec "ngram strategy beats the greedy seed" pins
    // the case). Deliberate: same intent, strictly better objective, and
    // one relational pass instead of an iterative per-row loop.
    val tagsExpr = expr("transform(array_sort(_tagstructs_), x -> x.qtok)")
    def runningSum(c: String, w: WindowSpec): Column =
      sum(col(c)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    // ORDERED summation, not a sum aggregate: float addition is
    // non-associative and a hash-agg's stream order is partition-dependent,
    // so two pairs with the same multiset of weights could score last-ulp
    // apart and defeat the tie-break (and any external replay). A running
    // sum in ascending qpos order, read at the last position, folds
    // ((0.0 + w1) + w2) + … the same way on every layout (qpos is unique
    // per group, `_w_` never NULL) — mathematical ties are exact FP ties,
    // on any engine that folds in the same order.
    def scoreSpan(df: DataFrame, keys: String*): DataFrame = df
      .withColumn("_run_", runningSum("_w_",
        Window.partitionBy(keys.map(col): _*).orderBy("qpos")))
      .groupBy(keys.map(col): _*)
      .agg(max_by(col("_run_"), col("qpos")).as("_raw_"),
        min(col("qstart")).as("_s_"), max(col("qend")).as("_e_"),
        collect_list(struct(col("qpos"), col("qtok"))).as("_tagstructs_"))
      .withColumn("_tags0_", tagsExpr)
      .drop("_tagstructs_")
    val pairScores = opts.strategy match {
      case "ngram" =>
        // cluster matched query positions: a gap > nNgrams starts a new
        // cluster; the best cluster is the matched subspan.
        val wPair = Window.partitionBy("_qlid_", "_trid_").orderBy("qpos")
        val clustered = matched
          .withColumn("_gap_",
            when(col("qpos") - lag(col("qpos"), 1).over(wPair) > opts.nNgrams, 1)
              .otherwise(0))
          .withColumn("_cluster_", runningSum("_gap_", wPair))
        scoreSpan(clustered, "_qlid_", "_trid_", "_cluster_")
          .groupBy("_qlid_", "_trid_")
          .agg(max(struct(col("_raw_"), col("_s_"), col("_e_"), col("_tags0_"))).as("best"))
          .select(col("_qlid_"), col("_trid_"), col("best._raw_").as("_raw_"),
            col("best._s_").as("_s_"), col("best._e_").as("_e_"),
            col("best._tags0_").as("_tags0_"))
      case _ => scoreSpan(matched, "_qlid_", "_trid_")
    }

    // length normalization + optional popularity boost
    val withLen = pairScores.join(docLen, "_trid_")
    val popBoosted = opts.popularityCol match {
      case Some(p) =>
        val popDf = rightKeyed.select(col("_rid_").as("_ptrid_"), col(p).as("_pop_"))
        withLen.join(popDf, col("_trid_") === col("_ptrid_"))
          .withColumn("_score_", col("_raw_") / sqrt(col("_doclen_")) * col("_pop_"))
      case None => withLen
        .withColumn("_score_", col("_raw_") / sqrt(col("_doclen_")))
    }

    val scored0 = popBoosted.where(col("_score_") >= opts.minScore)

    // ---- top-K per left row, deterministic --------------------------------
    // default tie-break: internal right row id (stable within a plan);
    // tieBreakCol: a caller-named right column (stable across ANY layout —
    // the oracle-replayable mode)
    val scored = opts.tieBreakCol match {
      case Some(tb) => scored0.join(
        rightKeyed.select(col("_rid_").as("_tbrid_"), col(tb).as("_tb_")),
        col("_trid_") === col("_tbrid_"))
      case None => scored0
    }
    val wTop = Window.partitionBy("_qlid_").orderBy(
      (Seq(col("_score_").desc) ++ opts.tieBreakCol.map(_ => col("_tb_")).toSeq :+
        col("_trid_")): _*)
    val best = scored
      .withColumn("_rank_", row_number().over(wTop))
      .where(col("_rank_") <= opts.topK)
      .select(col("_qlid_"), col("_trid_"), col("_score_"),
        col("_s_").as("_si_"), col("_e_").as("_ei_"), col("_tags0_"))

    // ---- stitch the full rows back (left outer ⇒ null padding) ------------
    // Value-based: each left row meets ITS distinct-query row on
    // null-safe (text, filter keys) equality, then that query's topK
    // matches. Qualified-by-alias references: the scoring subtree shares
    // lineage with queries/rightKeyed, so df("col") resolution would trip
    // Spark's ambiguous-self-join check; alias scoping resolves cleanly.
    val stitchCond = fIdx.foldLeft(
      col(s"GL.`$queryCol`") <=> col("GQ._qtext_")) { (c, i) =>
      c && col(s"GL.`${opts.filterCols(i)._1}`") <=> col(s"GQ._qf${i}_")
    }
    left.as("GL")
      .join(queries.as("GQ"), stitchCond, "left")
      .join(best.as("GB"), col("GQ._qlid_") === col("GB._qlid_"), "left")
      .join(rightKeyed.as("GR"), col("GB._trid_") === col("GR._rid_"), "left")
      .select(left.columns.map(c => col(s"GL.`$c`")) ++
        right.columns.map(c => col(s"GR.`$c`")) ++ Seq(
        col("_score_").cast(FloatType).as("_score_"),
        col("_tags0_").as("_tags_"),
        col("_si_").cast(IntegerType).as("_startIndex_"),
        col("_ei_").cast(IntegerType).as("_endIndex_")): _*)
  }

  /** Array-query variant (reference luceneLookup on an array column,
    * index/implicits.scala): every element of `arrayQueryCol` is resolved
    * independently against the right side; results come back in element
    * order as `{col}_res` = array of {right cols, _score_, _startIndex_,
    * _endIndex_} structs (null-padded for unmatched elements). */
  def lookupArray(left: DataFrame, arrayQueryCol: String, right: DataFrame,
                  textCol: String, opts: Options = Options()): DataFrame = {
    val res = s"${arrayQueryCol}_res"
    require(!left.columns.contains(res),
      s"lookupArray writes its result to `$res`; rename that left column")
    val resCols = right.columns ++ Seq("_score_", "_tags_", "_startIndex_", "_endIndex_")
    // the element rows meet the right side's columns inside lookup
    Elements.perRow(left, arrayQueryCol, Seq(res), resCols) { e =>
      lookup(e.frame, e.elem, right, textCol, opts)
    } { e =>
      Seq(Elements.inOrder(col(e.pos), struct(resCols.map(col): _*)))
    }
  }

  /** Multi-query variant (reference `luceneLookups`): each query column is
    * resolved against the same right side; results appear as struct columns
    * `{q}_res` = {right cols, _score_, _tags_, _startIndex_, _endIndex_}.
    *
    * ONE pass for all k query columns — the reference resolves all queries
    * against the index in a single call (index/implicits.scala:58-123), and
    * this does the relational equivalent: pack the k columns into an array,
    * run [[lookupArray]]'s posexplode → single [[lookup]] → regroup, then
    * unpack element i back into `{queryCols(i)}_res`. The k-sequential
    * alternative costs k tokenize/candidate-join/window passes and
    * recomputes the right side's document-frequency statistics k times;
    * this shape pays ONE candidate equi-join and one IDF computation, and
    * the distinct-query memoization inside [[lookup]] dedups strings shared
    * ACROSS columns too. Top-1 per column by contract (the reference's
    * semantics); `opts.topK > 1` is rejected, since k candidates would
    * multiply the left rows. Ask [[lookup]] directly for multi-candidate
    * results. */
  def lookupMulti(left: DataFrame, queryCols: Seq[String], right: DataFrame,
                  textCol: String, opts: Options = Options()): DataFrame = {
    require(queryCols.nonEmpty, "at least one query column")
    require(opts.topK == 1,
      s"lookupMulti resolves the single best match per query column " +
        s"(topK must be 1, got ${opts.topK})")
    // a pre-existing `${q}_res` twin would be silently REPLACED by the
    // unpack fold's withColumn and then duplicated in the final select
    val resClash = queryCols.map(q => s"${q}_res").filter(left.columns.contains)
    require(resClash.isEmpty,
      s"lookupMulti writes a `{queryCol}_res` result column per query; " +
        s"left frame already has: ${resClash.mkString(", ")}")
    // a scratch name that collides with nothing on the left frame, neither
    // the packed array column nor its `_res` twin
    val arr = Elements.fresh("_mq", left.columns.toSeq ++
      left.columns.filter(_.endsWith("_res")).map(_.stripSuffix("_res")))
    val packed = left.withColumn(arr, array(queryCols.map(col): _*))
    val looked = lookupArray(packed, arr, right, textCol, opts)
    queryCols.zipWithIndex.foldLeft(looked) { case (acc, (q, i)) =>
      acc.withColumn(s"${q}_res", element_at(col(s"${arr}_res"), i + 1))
    }.select(left.columns.map(col) ++ queryCols.map(q => col(s"${q}_res")): _*)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextKernels
import graft.operators.Materialize.MaterializeOps

/** Document deduplication for large-scale training-data pipelines.
  *
  * All variants are shuffle-native DataFrame programs designed for the
  * 100 TB case:
  *  - exact: one hash-groupBy (map-side partial agg) — no pairwise work;
  *  - MinHash+LSH: banding turns O(n²) near-dup search into an equi-join on
  *    (band, bucket) — only same-bucket docs are paired, and the pair
  *    verification joins back signatures, never full texts, until the final
  *    candidate set;
  *  - SimHash: 64-bit signature + pigeonhole block join (hamming <= k pairs
  *    must agree on >= one of k+1 blocks), again an equi-join;
  *  - n-gram Jaccard: token-level inverted-index join with per-pair
  *    intersection counts — exact Jaccard without materializing pairs that
  *    share no n-gram.
  */
object Dedup {

  /** Keep exactly the row whose `orderKey` is smallest per `key` — as a
    * PARTIAL-AGGREGABLE min_by aggregate, not a row_number window. The
    * difference is the whole point of dedup at 100 TB: the hot key IS the
    * duplicated text, and a window funnels every copy of it full-row into
    * ONE sort task (AQE cannot split a window partition), while min_by's
    * map-side combine collapses each partition's copies to one row before
    * anything shuffles. Requires a non-null total ordering (unique ids) —
    * ENFORCED in-plan PER COMPONENT: min_by skips NULL ordering keys, so
    * an all-NULL group would return a NULL struct and the unpack would
    * emit an all-NULL garbage row, and for COMPOSITE orderings the
    * containing struct is never NULL while a NULL FIELD sorts first and
    * silently WINS the election (the priority-dedup hazard) — so every
    * component fails by name, not just the whole key. */
  private def keepMinBy(df: DataFrame, key: Column,
                        orderKeys: Seq[Column]): DataFrame = {
    val checked = orderKeys.map(ok => when(ok.isNotNull, ok)
      .otherwise(raise_error(concat(
        lit("keepMinBy: NULL ordering-key component — dedup requires a " +
          "non-null total order; dedup key="),
        coalesce(key.cast("string"), lit("NULL"))))))
    val orderKey = if (checked.size == 1) checked.head else struct(checked: _*)
    df.groupBy(key.as("_k_"))
      .agg(min_by(struct(df.columns.map(col): _*), orderKey).as("_r_"))
      .select(df.columns.map(c => col("_r_").getField(c).as(c)): _*)
  }

  /** Exact dedup: keep the row with the smallest `idCol` per distinct value
    * of `textCol` (deterministic keep-first). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    keepMinBy(df, md5(col(textCol)), Seq(col(idCol)))

  /** Incremental exact dedup — the daily-ingest variant: dedup a NEW batch
    * against an existing corpus without touching the corpus again. Keeps a
    * new row iff (a) its text digest does not appear in the corpus
    * (left-anti join on the digest — at 100 TB the corpus side is a
    * digest-only column, not the documents) and (b) it is the first
    * occurrence within the batch itself. One shuffle on the digest for the
    * anti join + one for the window; the corpus is never rewritten. */
  def exactIncremental(newDf: DataFrame, corpus: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val seen = corpus.select(md5(col(textCol)).as("_h_")).distinct()
    val survivors = newDf.withColumn("_h_", md5(col(textCol)))
      .join(seen, Seq("_h_"), "left_anti")
    keepMinBy(survivors, col("_h_"), Seq(col(idCol))).drop("_h_")
  }

  /** Bloom-accelerated [[exactIncremental]] — IDENTICAL output, different
    * 100 TB cost profile: a compact Bloom filter over the corpus digests
    * is built in one pass and broadcast; batch rows the filter rules out
    * (the vast majority of a typical day's ingest) skip the anti-join
    * shuffle entirely, and only possible-members pay the exact check.
    * False positives are resolved by that exact join, so the output is
    * bit-identical to the plain path; `fpp` trades broadcast size against
    * how many rows take the expensive lane. */
  def exactIncrementalBloom(newDf: DataFrame, corpus: DataFrame,
                            textCol: String, idCol: String,
                            expectedItems: Long = 1000000L,
                            fpp: Double = 0.01): DataFrame = {
    val seen = corpus.select(md5(col(textCol)).as("_h_"))
    val bf = seen.stat.bloomFilter("_h_", expectedItems, fpp)
    val bc = newDf.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf { (h: String) =>
      // loud on NULL text (md5(NULL) is NULL): the bloom probe would NPE,
      // and silently routing nulls to "new" would diverge from exact()'s
      // dedup-nulls-together semantics
      require(h != null, "exactIncrementalBloom: NULL text in the batch")
      bc.value.mightContainString(h)
    }
    val hashed = newDf.withColumn("_h_", md5(col(textCol)))
    val definiteNew = hashed.where(!mightContain(col("_h_")))
    val maybeSeen = hashed.where(mightContain(col("_h_")))
      .join(seen.distinct(), Seq("_h_"), "left_anti")
    keepMinBy(definiteNew.unionByName(maybeSeen), col("_h_"), Seq(col(idCol)))
      .drop("_h_")
  }

  /** Paragraph-level exact dedup — the within-and-across-document variant
    * modern curation pipelines run before document-level dedup (the
    * RefinedWeb/FineWeb recipe): explode documents into paragraphs, keep
    * only the globally FIRST occurrence of each distinct paragraph
    * (ordered by doc id, then position), and reassemble each document
    * from its surviving paragraphs in original order. Documents whose
    * every paragraph occurred earlier elsewhere come back empty rather
    * than disappearing — the caller decides whether to drop them.
    *
    * 100 TB shape: one hash shuffle of the paragraph table on the
    * paragraph digest (the window key), one partitioned reassembly
    * aggregate — no pairwise work, and the digest window carries ids +
    * digests only (paragraph text rides the keep side). */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame = {
    val paras = df.select(col(idCol).as("_id_"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("_pos_", "_p_")))
    // min_by, not a digest window: the hot paragraph (cookie banner in
    // 10^8 docs) must collapse map-side, not sort in one task
    val kept = keepMinBy(paras, md5(col("_p_")),
      Seq(col("_id_"), col("_pos_")))
    val rebuilt = kept.groupBy("_id_")
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("_pos_"), col("_p_")))), s => s("_p_")), sep)
        .as("dedup_text"),
        count(lit(1)).cast("int").as("n_kept"))
    df.select(col(idCol).as("_id_")).distinct()
      .join(rebuilt, Seq("_id_"), "left")
      .select(col("_id_").as(idCol),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"))
  }

  /** Representative election over near-dup clusters — the step after
    * [[connectedComponents]] in a quality-aware dedup: instead of keeping
    * the min-id member, keep the HIGHEST-QUALITY member of each cluster
    * (the FineWeb-style choice: among near-duplicate pages, retain the
    * longest / best-scored copy). `components` is (id, component) as
    * produced by [[connectedComponents]]; `meta` supplies `qualityCol`
    * keyed by `idCol`. Election: max quality, ties to the smaller id.
    * One broadcast-or-shuffle join + one window over the component —
    * clusters are tiny by construction, so the window never skews. */
  def electRepresentatives(components: DataFrame, meta: DataFrame,
                           idCol: String, qualityCol: String): DataFrame = {
    val w = Window.partitionBy("component")
      .orderBy(col(qualityCol).desc, col("id"))
    components.join(meta.select(col(idCol).as("id"), col(qualityCol)), Seq("id"))
      .withColumn("_rk_", row_number().over(w))
      .withColumn("keep", col("_rk_") === 1)
      .drop("_rk_")
  }

  /** Priority-aware exact dedup — cross-source dedup where ties are broken
    * by source preference, not ingest order (the FineWeb/Dolma recipe:
    * when a page appears in both a curated dump and a raw crawl, keep the
    * curated copy regardless of which id is smaller). Keeps the row with
    * the smallest (`priorityCol`, `idCol`) per distinct text — same single
    * digest-shuffle shape as [[exact]], different election. */
  def exactByPriority(df: DataFrame, textCol: String, idCol: String,
                      priorityCol: String): DataFrame =
    keepMinBy(df, md5(col(textCol)), Seq(col(priorityCol), col(idCol)))

  /** Boilerplate removal by corpus frequency — the CCNet/RefinedWeb curation
    * stage that strips navigation chrome, cookie banners, share buttons:
    * a line occurring in MORE than `maxDocFreq` distinct documents is
    * removed from EVERY document. Complements [[dedupParagraphs]], which
    * keeps the first occurrence of each paragraph: frequency removal
    * targets machine-generated repetition (no occurrence is "the real
    * one"), keep-first targets genuine content that happens to be copied.
    * Documents losing every line come back empty, same contract as
    * [[dedupParagraphs]].
    *
    * 100 TB shape: line document-frequency is one hash shuffle of
    * (line digest, doc id) with map-side partial aggregation; the frequent
    * set is df-thresholded and therefore tiny relative to the corpus
    * (boilerplate is usually a small distinct set), so AQE promotes the
    * removal anti-join to broadcast at runtime when it is — without
    * pinning a hint that would OOM on a template-heavy corpus where the
    * set is data-sized; reassembly is one shuffle on the doc id. Line
    * text never shuffles — digests only. */
  def removeFrequentLines(df: DataFrame, idCol: String, textCol: String,
                          maxDocFreq: Int, sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).as("_id_"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("_pos_", "_l_")))
      .withColumn("_h_", md5(col("_l_")))
    val frequent = lines.groupBy("_h_")
      .agg(countDistinct(col("_id_")).as("_df_"))
      .where(col("_df_") > maxDocFreq)
      .select("_h_")
    // no broadcast HINT: the frequent set's size is data-dependent (a
    // template-heavy corpus with a small maxDocFreq can push it to tens
    // of GB, where a forced broadcast OOMs the driver) — AQE promotes the
    // anti-join to broadcast at runtime whenever the set is actually tiny
    val kept = lines.join(frequent, Seq("_h_"), "left_anti")
    val rebuilt = kept.groupBy("_id_")
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("_pos_"), col("_l_")))), s => s("_l_")), sep)
        .as("clean_text"),
        count(lit(1)).cast("int").as("n_kept"))
    df.select(col(idCol).as("_id_")).distinct()
      .join(rebuilt, Seq("_id_"), "left")
      .select(col("_id_").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"))
  }

  /** Substring-level exact dedup — the token-window formulation of Lee et
    * al. 2022's "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr: every stride-1 window of `windowTokens` whitespace tokens
    * is fingerprinted; for each distinct window only the globally FIRST
    * occurrence (by doc id, then start offset) survives, and every token
    * covered by a later duplicate window is cut from its document
    * (overlapping duplicate spans union into one cut — the span-merge the
    * paper's suffix-array intervals give for free). Catches the long
    * verbatim quotes, license blocks and syndicated passages that document-
    * and paragraph-level dedup both miss.
    *
    * 100 TB shape: the window table carries (doc id, start, 16-byte digest)
    * — window TEXT never shuffles, so the shuffle is ~stride × id-width,
    * not W× the corpus. One digest shuffle for the first-occurrence window,
    * one explode of duplicate spans (bounded by duplicate volume, not
    * corpus volume) into a removal set, one anti-join + reassembly shuffle
    * on the doc id. The reference suffix-array build is a single-node
    * program; this is the shuffle-native equivalent at fixed window width. */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
                      windowTokens: Int = 8): DataFrame = {
    val w = windowTokens
    val toks = df.select(col(idCol).as("_id_"),
      posexplode(filter(split(col(textCol), "\\s+"), t => t =!= ""))
        .as(Seq("_pos_", "_t_")))
    val wins = df.select(col(idCol).as("_id_"),
      filter(split(col(textCol), "\\s+"), t => t =!= "").as("_ts_"))
      .where(size(col("_ts_")) >= w)
      .select(col("_id_"), posexplode(transform(
        sequence(lit(0), size(col("_ts_")) - w),
        i => md5(array_join(slice(col("_ts_"), i + 1, lit(w)), " "))))
        .as(Seq("_start_", "_h_")))
    // "all but the first occurrence" via an elected join, not a window:
    // min(struct) partial-aggregates map-side and the hash-join probe
    // STREAMS a hot span (no one-task sort of 10^8 copies)
    val first = wins.groupBy("_h_")
      .agg(min(struct(col("_id_"), col("_start_"))).as("_f_"))
    val dupSpans = wins.join(first, Seq("_h_"))
      .where(struct(col("_id_"), col("_start_")) =!= col("_f_"))
    val removal = dupSpans.select(col("_id_"),
      explode(sequence(col("_start_"), col("_start_") + (w - 1))).as("_pos_"))
      .distinct()
    val kept = toks.join(removal, Seq("_id_", "_pos_"), "left_anti")
    val rebuilt = kept.groupBy("_id_")
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("_pos_"), col("_t_")))), s => s("_t_")), " ")
        .as("kept_text"),
        count(lit(1)).cast("int").as("n_kept"))
    val totals = toks.groupBy("_id_").agg(count(lit(1)).cast("int").as("_tot_"))
    df.select(col(idCol).as("_id_")).distinct()
      .join(totals, Seq("_id_"), "left")
      .join(rebuilt, Seq("_id_"), "left")
      .select(col("_id_").as(idCol),
        coalesce(col("kept_text"), lit("")).as("kept_text"),
        (coalesce(col("_tot_"), lit(0)) - coalesce(col("n_kept"), lit(0)))
          .as("n_removed"))
  }

  /** Incremental connected components: fold NEW pairs into an existing
    * `(id, component)` labeling without revisiting historical pair
    * generation — the daily-update path of a standing dedup corpus. The
    * labeling is itself an edge set (each id → its component min) that
    * exactly preserves prior connectivity, so CC over labels ∪ newPairs
    * equals CC over the full historical pair set — the contract dd14
    * gates against the full-rebuild oracle. Cost scales with
    * |labels| + |delta|: one row per RETAINED doc plus the day's pairs,
    * not the pair history — at 100 TB that is the difference between
    * touching the corpus index and re-mining every pair ever seen. */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
                            aCol: String, bCol: String): DataFrame =
    connectedComponents(
      labels.select(col("id").as(aCol), col("component").as(bCol))
        .unionByName(newPairs.select(aCol, bCol)), aCol, bCol)

  /** Cluster near-duplicate PAIRS into connected components and elect one
    * representative per cluster — the step that turns dd03/dd05-style pair
    * lists into an actionable keep/drop set (pairs alone over-delete: A~B,
    * B~C must keep ONE of {A,B,C}, not drop both B and C).
    *
    * Iterative min-label propagation (the classic Spark formulation of
    * Kiveris et al.'s large/small-star idea in its simple symmetric form):
    * every node starts as its own label; each round a node takes the min of
    * its own and its neighbors' labels; fixpoint in O(component diameter)
    * rounds. Each round is one shuffle join + one aggregate; labels are
    * materialized per round via [[Materialize.round]] to truncate lineage
    * (`localCheckpoint` locally; reliable `checkpoint()` at cluster scale
    * when a checkpoint dir is set). Near-dup components are tiny and
    * sparse by construction — LSH already bounded candidate fan-out — so
    * the diameter (and round count) stays single-digit on real corpora.
    *
    * An ADAPTIVE fast path mirrors AQE's spirit: one job collects at
    * most `driverThreshold + 1` raw pairs, and when they are all of them
    * they are solved with union-find on the driver — identical min-label
    * output, zero iteration jobs, and none of the loop path's
    * symmetric-union / distinct / repartition exchanges, which only the
    * iterative rounds need (union-find is insensitive to duplicates and
    * direction; raw count >= distinct count keeps the memory bound).
    * Past the threshold that bounded collect is the price of deciding in
    * one job instead of a count and a collect. Near-dup edge sets
    * are small relative to the corpus by construction (only duplicates
    * produce pairs), so this path carries most real runs; the distributed
    * fixpoint remains the unbounded-scale path and is exercised directly
    * by spec.
    *
    * Output: (`idCol`, `component`) for every node that appears in `pairs`,
    * component = min node id reachable. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          driverThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    // pairs is referenced twice by the symmetric union; persist it for the
    // one job that materializes edges so an expensive upstream (a full
    // near-dup pipeline) isn't executed once per direction
    val p = pairs.persist()
    // long ids only: the fast path materializes (Long, Long) and must not
    // silently change the output schema for other id types
    val longIds = pairs.schema(aCol).dataType ==
      org.apache.spark.sql.types.LongType
    import spark.implicits._
    // the RAW pairs, one past the threshold: fewer means all of them
    val raw =
      if (!longIds) None
      else Some(p.select(col(aCol), col(bCol)).as[(Long, Long)]
          .limit(math.min(math.max(driverThreshold, 0L), Int.MaxValue - 1L).toInt + 1)
          .collect())
        .filter(_.length <= driverThreshold)
    if (raw.nonEmpty) {
      p.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      raw.get.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root so the final root IS the min-label component
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val out = parent.keys.toArray.sorted.map(id => (id, find(id)))
      return spark.createDataset(out.toSeq)
        .toDF("id", "component")
    }
    // loop path: symmetric edge set keyed on the probe key, and the label
    // state on the same layout, so a round's only exchange is its message
    // aggregate: labels flow across edges, each node takes the min of its
    // own and its smallest incoming label, and the previous label rides
    // along as _old_ so convergence is counted in the round's pin
    val edges = Parallelism.byKey(p.select(col(aCol).as("_src_"), col(bCol).as("_dst_"))
      .union(p.select(col(bCol), col(aCol))), "_dst_")
      .distinct().materializeRound()
    p.unpersist()
    val labels = Superstep.untilQuiet(
        edges.select(col("_dst_").as("_id_")).distinct()
          .withColumn("_lbl_", col("_id_")),
        i => if (i == 0) lit(true) else col("_lbl_") =!= col("_old_"), maxIter,
        Some(s"connectedComponents: no fixpoint after $maxIter rounds " +
          "(component diameter exceeds maxIter — raise it or pre-shrink with LSH)")) { r =>
      val incoming = edges
        .join(r.state.hint("shuffle_hash"), edges("_dst_") === r.state("_id_"))
        .groupBy(col("_src_").as("_id_")).agg(min("_lbl_").as("_in_"))
      r.state.join(incoming.hint("shuffle_hash"), Seq("_id_"), "left")
        .select(col("_id_"), least(col("_lbl_"), col("_in_")).as("_lbl_"),
          col("_lbl_").as("_old_"))
    }
    Superstep.release(edges)
    labels.select(col("_id_").as("id"), col("_lbl_").as("component"))
  }

  /** Star-contraction connected components — the alternating
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SoCC 2014). Same output contract
    * as [[connectedComponents]] (`(id, component)`, component = min
    * reachable id), different round complexity: label propagation needs
    * O(component diameter) rounds, star contraction converges in
    * O(log² n) rounds w.h.p. REGARDLESS of diameter. Near-dup graphs are
    * low-diameter, so [[connectedComponents]] (with its driver fast path)
    * stays the default; this is the 100 TB path for high-diameter inputs —
    * web link graphs, road networks, long citation chains — where a
    * diameter-bound fixpoint would run thousands of rounds.
    *
    * Both stars are expressed RELATIONALLY — an aggregate for each node's
    * min neighbor joined back to the edge list — never a per-node
    * `collect_list` of the neighborhood, so a hub with 10⁸ neighbors is
    * partial-aggregated map-side instead of materialized as one row (the
    * usual OOM of naive star implementations; residual join skew on hub
    * keys is exactly what AQE skew-join splitting handles):
    *  - large-star(u): every neighbor v > u re-points to
    *    m(u) = min(Γ(u) ∪ u) — cuts long chains toward minima;
    *  - small-star(u): u and its smaller neighbors all re-point to
    *    m⁻(u) = min(Γ⁻(u) ∪ u) — flattens the local trees into stars.
    * Every emitted edge (x, m) has x > m, so the edge set stays in
    * canonical (hi, lo) orientation and self-loops never re-enter.
    * Fixpoint = edge set unchanged over a full round (checked exactly:
    * equal counts, each counted in its round's pin, + an empty set
    * difference, one ids-only job run only when the counts tie, on a set
    * SHRINKING toward one edge per non-min node); at fixpoint the edges
    * are depth-1 stars rooted at component minima, so labels read off
    * directly. Per-round [[Materialize.round]] truncates lineage, same
    * discipline as [[connectedComponents]]. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 30): DataFrame = {
    // one materialization of a possibly-expensive upstream feeds both the
    // node set and the initial edge set (same discipline as
    // connectedComponents' persist)
    val p = pairs.persist()
    val nodes = p.select(col(aCol).as("id"))
      .union(p.select(col(bCol))).distinct().materializeRound()
    // canonical orientation: (hi, lo), self-loops dropped; every state is
    // pinned with its edge count, so `quiet` compares two counts already
    // known and runs its set difference only when they tie
    val edges = try Superstep.untilQuiet(
        p.select(greatest(col(aCol), col(bCol)).as("_hi_"),
            least(col(aCol), col(bCol)).as("_lo_"))
          .where(col("_hi_") =!= col("_lo_"))
          .distinct(),
        _ => lit(true), maxIter,
        Some(s"connectedComponentsStar: no fixpoint after $maxIter rounds " +
          "(pathological input — raise maxIter)"),
        quiet = (prev, next) => next.active == prev.active &&
          next.state.exceptAll(prev.state).limit(1).count() == 0) { r =>
      // large-star: m(u) = least(min Γ(u), u) over the FULL neighborhood
      // (symmetric view); strictly-larger neighbors re-point to m
      val sym = r.state.select(col("_hi_").as("_u_"), col("_lo_").as("_v_"))
        .union(r.state.select(col("_lo_"), col("_hi_")))
      val mins = sym.groupBy("_u_").agg(min(col("_v_")).as("_mn_"))
        .select(col("_u_"), least(col("_mn_"), col("_u_")).as("_m_"))
      // afterLarge has two consumers (the min aggregate and the re-point
      // join), both in the round's pin job, which materializes the cache
      val afterLarge = r.cacheForPin(sym.where(col("_v_") > col("_u_"))
        .join(mins, "_u_")
        .select(col("_v_").as("_hi_"), col("_m_").as("_lo_"))
        .distinct())
      // small-star: canonical (hi, lo) IS the smaller-neighbor adjacency
      // Γ⁻(hi); m⁻ = min Γ⁻(u) (< u, so the least() with u is implicit);
      // u and every non-min smaller neighbor re-point to m⁻
      val minsSmall = afterLarge.groupBy("_hi_").agg(min(col("_lo_")).as("_m_"))
      afterLarge.join(minsSmall, "_hi_")
        .where(col("_lo_") =!= col("_m_"))
        .select(col("_lo_").as("_hi_"), col("_m_").as("_lo_"))
        .union(minsSmall.select(col("_hi_"), col("_m_")))
        .distinct()
    } catch { case e: Throwable =>
      // a raise at maxIter must not leave the node pin behind either
      Superstep.release(nodes)
      throw e
    } finally p.unpersist()
    // the composite fixpoint is a star forest by Kiveris et al.'s
    // convergence theorem; assert the depth-1 property (no root is also a
    // member) so a latent violation fails loudly instead of mislabeling
    require(edges.alias("a").join(edges.alias("b"),
      col("a._lo_") === col("b._hi_"), "left_semi").limit(1).count() == 0,
      "connectedComponentsStar: fixpoint is not a star forest")
    // stars are (member, min). Minima have no outgoing edge and isolated
    // nodes (self-pairs in the input) have none either — restore both
    // from the node set with component = self.
    nodes
      .join(edges.select(col("_hi_").as("id"), col("_lo_").as("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------

  /** Modulus for the per-slot Kirsch–Mitzenmacher family `(b₁ + i·b₂) mod
    * p`: 2³¹−1 (prime), small enough that the largest intermediate
    * b₁ + i·b₂ ≤ 64·(p−1) < 2³⁷ fits a signed Long in both engines. */
  private val MinhashP = 2147483647L

  /** Word-shingle MinHash signature (public technique: Broder '97 minwise
    * hashing). Shingles are raw space-split sliding windows (same gram
    * definition as [[ngramJaccardPairs]]); slot i applies
    * Kirsch–Mitzenmacher double hashing `(h₁ + i·h₂) mod p` over TWO
    * avalanched base hashes (h₂ = mix64(h₁), so the slots are not all
    * affine in a single 31-bit value — the estimator-variance weakness of
    * a one-base family). Every step is integer arithmetic a DuckDB oracle
    * replays exactly — see the dd03 oracle SQL. `remainderUnsigned` (not
    * floorMod) so the fold matches the oracle's unsigned UHUGEINT `% p`
    * without a sign-conversion dance. */
  private def minhashSig(numHashes: Int, shingleSize: Int) =
    udf { (text: String) =>
      // loud, named failure: a NULL text would otherwise NPE deep in a
      // task 4 retries in, hours into a corpus-sized bucketing pass
      require(text != null,
        "minhashSig: NULL text — filter or coalesce the text column upstream")
      val toks: Array[String] = text.split(" ", -1)
      val shingles =
        if (toks.length < shingleSize) Seq(toks.mkString(" "))
        else toks.sliding(shingleSize).map(_.mkString(" ")).toSeq
      val sig = Array.fill(numHashes)(Long.MaxValue)
      shingles.foreach { sh =>
        val h1 = TextKernels.polyHash64Mixed(sh)
        val b1 = java.lang.Long.remainderUnsigned(h1, MinhashP)
        val b2 = java.lang.Long.remainderUnsigned(TextKernels.mix64(h1), MinhashP)
        var i = 0
        while (i < numHashes) {
          val h = (b1 + i * b2) % MinhashP
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      sig
    }

  /** Candidate near-duplicate pairs via MinHash banding. Output:
    * (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard = fraction of
    * agreeing signature slots >= `minEstJaccard`. Candidates come from
    * [[PairJoin.selfJoin]] on (band, bucket).
    *
    * `maxBucketSize` (0 = off) drops (band, bucket) groups larger than
    * the cap BEFORE the self-join — the standard LSH guard against
    * degenerate buckets: a web corpus's empty/whitespace-only documents
    * all share every band bucket, and the uncapped self-join would emit
    * O(bucket²) candidate rows per band (10^7 empties → ~10^14 rows)
    * before any distinct. Capping trades recall ONLY on pairs whose every
    * shared bucket is oversized — mass-duplicated boilerplate better
    * handled by [[exact]] first.
    *
    * With `maxBucketSize` off (the default), a bucket over
    * `degenerateBucketBound` ([[Guards.DegenerateBucketBound]], 2^20)
    * raises by name. ANY explicit `maxBucketSize` skips that guard (the
    * caller has made the sizing decision); `degenerateBucketBound <= 0`
    * is the explicit quadratic-cost opt-in for the uncapped path. */
  def minHashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      numHashes: Int = 64, bands: Int = 16,
                      shingleSize: Int = 3, minEstJaccard: Double = 0.5,
                      maxBucketSize: Int = 0,
                      degenerateBucketBound: Long =
                        Guards.DegenerateBucketBound): DataFrame = {
    val sigs = minhashSigs(df, textCol, idCol, numHashes, shingleSize)
    val candidates = PairJoin.selfJoin(minhashBands(sigs, numHashes, bands),
      Seq("_band_", "_bucket_"), "minHashLshPairs", degenerateBucketBound,
      "set maxBucketSize to drop degenerate buckets (recall cost only " +
        "on pairs whose EVERY shared bucket is oversized), run exact " +
        "dedup first to collapse boilerplate, or pass " +
        "degenerateBucketBound = 0 to accept the cost", maxBucketSize)
    minhashVerified(candidates, sigs, sigs, numHashes, minEstJaccard)
  }

  /** (_id_, _sig_) per row, pinned: the banding explode and both signature
    * re-joins read it — unpinned, the (expensive) minhash UDF runs 3x. */
  private def minhashSigs(df: DataFrame, textCol: String, idCol: String,
                          numHashes: Int, shingleSize: Int): DataFrame =
    Materialize.lazyRound(df.select(col(idCol).as("_id_"),
      minhashSig(numHashes, shingleSize)(col(textCol)).as("_sig_")))

  /** (_id_, _band_, _bucket_): each band's signature slice, serialized, is
    * its LSH bucket key. A joined string rather than hash(slice(...)):
    * byte-for-byte the same key on any engine (hash() is Spark-private
    * murmur), and slice equality IS bucket equality so no collision
    * semantics change; ~40 bytes/row of extra shuffle vs a 4-byte hash
    * buys the oracle gate. Ids only: the candidate shuffle and distinct
    * must never carry the 64-slot signatures (a pair colliding in several
    * bands would shuffle them once per collision), so signatures re-join
    * after the dedup in [[minhashVerified]]. */
  private def minhashBands(sigs: DataFrame, numHashes: Int,
                           bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    sigs.select(col("_id_"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> array_join(slice(_sig_, b * $rowsPerBand + 1, $rowsPerBand), ','))"))
        .as(Seq("_band_", "_bucket_")))
  }

  /** `(id_a, id_b, est_jaccard)` of the candidate pairs whose fraction of
    * agreeing signature slots (`id_a`'s in `sigsA`, `id_b`'s in `sigsB`)
    * is at least `minEstJaccard`. */
  private def minhashVerified(candidates: DataFrame, sigsA: DataFrame,
                              sigsB: DataFrame, numHashes: Int,
                              minEstJaccard: Double): DataFrame = {
    val agree = expr(
      "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), t -> t))")
    candidates
      .join(sigsA.select(col("_id_").as("id_a"), col("_sig_").as("sig_a")), "id_a")
      .join(sigsB.select(col("_id_").as("id_b"), col("_sig_").as("sig_b")), "id_b")
      .withColumn("est_jaccard", agree / lit(numHashes.toDouble))
      .where(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Incremental NEAR-dup admission: LSH candidates between a new batch
    * and the standing corpus only — never corpus × corpus (that work was
    * done when the corpus was admitted; in production the corpus side's
    * signatures and bucket table are persisted once and reused across
    * batches, so each ingest costs O(batch) hashing plus the bucket
    * join). The fuzzy companion to [[exactIncremental]]'s exact-hash gate.
    * Output: (batch_id, corpus_id, est_jaccard >= minEstJaccard).
    *
    * Candidates come from [[PairJoin.join]] on (band, bucket), which raises
    * by name, naming the batch or the corpus side, when a bucket on either
    * side exceeds `degenerateBucketBound` (2^20) — see [[minHashLshPairs]];
    * `<= 0` opts out. Each side's signature frame is pinned with
    * [[Materialize.lazyRound]] and freed with the returned plan. */
  def minHashLshNewVsCorpus(batch: DataFrame, corpus: DataFrame,
                            textCol: String, idCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            shingleSize: Int = 3,
                            minEstJaccard: Double = 0.5,
                            degenerateBucketBound: Long =
                              Guards.DegenerateBucketBound): DataFrame = {
    val bs = minhashSigs(batch, textCol, idCol, numHashes, shingleSize)
    val cs = minhashSigs(corpus, textCol, idCol, numHashes, shingleSize)
    val candidates = PairJoin.join(minhashBands(bs, numHashes, bands),
      minhashBands(cs, numHashes, bands), Seq("_band_", "_bucket_"),
      "minHashLshNewVsCorpus", ("batch", "corpus"), degenerateBucketBound,
      "run exact dedup on the batch and collapse corpus boilerplate with " +
        "exact dedup before admission, or pass degenerateBucketBound = 0 " +
        "to accept the cost")
    minhashVerified(candidates, bs, cs, numHashes, minEstJaccard)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        col("est_jaccard"))
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  private val simhashUdf = udf { (text: String) =>
    require(text != null,
      "simHash: NULL text — filter or coalesce the text column upstream")
    // polyHash64Mixed, not murmur: same bits computable in the DuckDB
    // oracle (dd04). The avalanche finalizer is load-bearing here: raw
    // polyHash64 leaves bits ≥ ~34 zero for short tokens, which makes
    // those simhash bits CONSTANT across the corpus — the high pigeonhole
    // block then collides universally and candidate generation degenerates
    // to O(n²). Empty tokens skipped (mirrored by the oracle's filter).
    val toks = text.split(" ", -1).filter(_.nonEmpty)
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = TextKernels.polyHash64Mixed(t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** 64-bit SimHash per row (Charikar '02). */
  def withSimhash(df: DataFrame, textCol: String, out: String = "simhash"): DataFrame =
    df.withColumn(out, simhashUdf(col(textCol)))

  /** Near-dup pairs (id_a, id_b, hamming) with hamming(simhash) <=
    * maxHamming: [[withSimhash]] plus the pigeonhole block join of
    * [[PairJoin.hamming]]. `maxBucketSize` (0 = off): same
    * degenerate-bucket cap as [[minHashLshPairs]] — every empty text has
    * signature 0 and would self-join O(n²) in all blocks.
    *
    * Scale note (sf1-soak-measured): block-key cardinality is fixed by
    * the 64-bit signature (2^(64/(k+1)) keys), so on a corpus whose
    * signature DIVERSITY does not grow with n (template-heavy or
    * low-vocabulary text) bucket occupancy grows with n and candidate
    * volume quadratically — the 10x soak ran 36x. `maxBucketSize` is the
    * production guard: it prices out exactly the overfull keys, at the
    * documented recall cost on those keys.
    *
    * With `maxBucketSize` off, a (block, key) bucket over
    * `degenerateBucketBound` (2^20) raises by name — see
    * [[minHashLshPairs]]. */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 0,
                   degenerateBucketBound: Long =
                     Guards.DegenerateBucketBound): DataFrame =
    PairJoin.hamming(withSimhash(df, textCol, "_sh_"), idCol, "_sh_",
      maxHamming, "simHashPairs",
      "set maxBucketSize to price out the overfull keys (recall cost " +
        "only on those keys), run exact dedup first to collapse " +
        "identical texts (signature 0 empties are the classic case), " +
        "or pass degenerateBucketBound = 0 to accept the cost",
      maxBucketSize, degenerateBucketBound)

  // ---------------------------------------------------------------------
  // Exact n-gram Jaccard
  // ---------------------------------------------------------------------

  /** The docs/prefix pipeline shared by [[ngramJaccardPairs]] and
    * [[ngramCandidateVolume]] — factoring it keeps the guard's measured
    * statistic aligned with the operator's actual prefix logic by
    * construction (round-18 self-review). Returns the per-doc gram table
    * (_id_, _grams_, _n_, _plen_); callers pin it, since it feeds the
    * prefix explode and both sides of the verification join (unpinned,
    * Spark recomputes the gram explosion + window ~3x). */
  private def ngramDocsTable(df: DataFrame, textCol: String, idCol: String,
                             n: Int, minJaccard: Double,
                             capDf: Long = 0L): DataFrame = {
    // tokenize ONCE per row before the gram lambda: with split() inlined in
    // the transform body Catalyst re-evaluates it per gram position —
    // O(tokens²) splits per document, quadratic in document length.
    // Parallelism.widen (r19): the gram explosion + xxhash is the lane's
    // CPU spine and plans into the scan stage — an under-split input
    // (one small parquet file) serializes it on one core; no-op on
    // well-split inputs (see the helper's scaladoc).
    val grams = Parallelism.widen(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("_id_"), split(col(textCol), " ").as("_w_"))
      .select(col("_id_"),
        explode(expr(
          s"array_distinct(transform(sequence(1, greatest(size(_w_) - ${n - 1}, 1)), i -> xxhash64(array_join(slice(_w_, i, $n), ' '))))"))
          .as("_gram_"))
    // per doc: grams sorted by (global df, gram) — rare first; prefix length
    // chosen so that two docs with jaccard >= t MUST overlap in the prefix.
    // Global df via a count window, not groupBy+join-back: one gram-keyed
    // shuffle instead of two (the aggregate side AND a re-shuffle of the
    // gram stream for the join) — at 100 TB that join's probe side is the
    // full gram stream, so halving the gram-keyed shuffle volume is the
    // difference that matters.
    grams
      .withColumn("_df_", count(lit(1)).over(Window.partitionBy("_gram_")))
      .groupBy("_id_")
      .agg(expr("transform(array_sort(collect_list(struct(_df_, _gram_))), x -> x._gram_)")
        .as("_grams_"),
        // df-capped lane support: grams are sorted df-ASCENDING, so the
        // grams with df <= capDf are exactly positions 1.._k_ of _grams_
        // — capping the PREFIX at _k_ prunes every hot gram from the
        // candidate keys without touching the verify-stage arrays
        sum(when(col("_df_") <= lit(capDf), 1).otherwise(0)).cast("int")
          .as("_k_"))
      .withColumn("_n_", size(col("_grams_")))
      // every ceil() below subtracts 1e-9 first: double products like
      // 35 * 0.8 land a hair ABOVE the exact integer (28.000000000000004),
      // and an unguarded ceil then rounds 28 -> 29, silently shortening
      // the prefix / tightening a bound past the theorem — which DROPS
      // true boundary pairs (jaccard exactly t). The epsilon only ever
      // loosens (more candidates); the exact verify filter keeps output
      // identical.
      .withColumn("_plen_", {
        val exactPlen =
          (col("_n_") - ceil(col("_n_") * minJaccard - 1e-9) + 1).cast("int")
        // capDf > 0 replaces the PPJoin prefix with the FULL rare-gram
        // head (_k_ = #grams with df <= capDf; they sort first): every
        // rare gram emits candidate keys, no hot gram does. Chosen over
        // intersecting with the exact prefix (least(exactPlen, _k_)) for
        // three reasons that compound: (1) maximal recall under the cap —
        // missed ⇔ EVERY shared gram is hot, the precise contract the
        // public scaladoc states; (2) the output is then independent of
        // the (df, hash) sort's tie-break among equal-df grams, i.e.
        // deterministic in the DATA rather than in xxhash64 — which is
        // what lets DuckDB replay the lane verbatim (dd15's oracle);
        // (3) in the lane's target regime (saturated vocabulary, rare
        // set small) _k_ < exactPlen anyway, so the volume cost of the
        // longer prefix lands only on corpora healthy enough for the
        // exact lane — and the candidate-volume guard measures the
        // actual _plen_-based volume either way.
        if (capDf > 0) col("_k_") else exactPlen
      })
  }

  /** Prefix rows (one per (doc, prefix gram)) off a [[ngramDocsTable]]. */
  private def ngramPrefixes(docs: DataFrame): DataFrame = docs
    .select(col("_id_"), col("_n_"),
      posexplode(slice(col("_grams_"), lit(1), col("_plen_")))
        .as(Seq("_p0_", "_gram_")))
    .select(col("_id_"), col("_n_"), (col("_p0_") + 1).as("_p_"),
      col("_gram_"))

  /** The candidate-volume statistic [[ngramJaccardPairs]]' guard measures:
    * Σ over prefix grams of prefixDf² — the exact pre-filter row count of
    * the prefix self-join. Public so bounds are measured against the SAME
    * pipeline the operator runs (harness meters call this instead of
    * copy-pasting the prefix logic). */
  def ngramCandidateVolume(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 3, minJaccard: Double = 0.5,
                           maxGramDfRatio: Double = 0.0): java.math.BigInteger = {
    val docs = ngramDocsTable(df, textCol, idCol, n, minJaccard,
      gramCapDf(df, maxGramDfRatio)).persist()
    try {
      val prefixes = ngramPrefixes(docs)
      Guards.fanOut(prefixes, prefixes, Seq("_gram_")).pairs
    } finally docs.unpersist()
  }

  /** Document-frequency cap for the df-capped gram lane: 0 when the lane
    * is off, else `maxGramDfRatio × |docs|` floored at 2 (a df-1 gram can
    * never produce a cross-doc candidate, so a lower cap would silently
    * disable candidate generation entirely). Costs one count() job over
    * the input — the price of sizing the cap from the data, same recipe
    * as the fuzzy lane's maxDfRatio. */
  private def gramCapDf(df: DataFrame, maxGramDfRatio: Double): Long = {
    require(maxGramDfRatio >= 0.0 && maxGramDfRatio <= 1.0,
      s"maxGramDfRatio must be in [0, 1], got $maxGramDfRatio")
    if (maxGramDfRatio == 0.0) 0L
    else math.max(2L, (maxGramDfRatio * df.count()).toLong)
  }

  /** Exact Jaccard similarity over distinct word n-grams, >= minJaccard,
    * via prefix filtering (AllPairs/PPJoin, Bayardo et al. '07 — public
    * algorithm): order each doc's grams by ascending global frequency and
    * emit only the first `|d| - ceil(t*|d|) + 1` as join keys — any pair
    * with Jaccard >= t must share a prefix gram, so the candidate join
    * fans out on RARE grams only. Candidates are then verified exactly by
    * intersecting the full sorted gram arrays. Output identical to the
    * naive all-grams join, at a fraction of the shuffle volume — this is
    * what keeps the op viable when the corpus no longer fits a broadcast.
    *
    * Grams are xxhash64-hashed to longs immediately after the distinct:
    * every downstream stage (df window sort, prefix join keys, the
    * verify-stage array intersection) then moves and compares 8-byte
    * longs instead of ~(6·n)-char strings — at sf0.1 this roughly halved
    * the op's wall time, and at corpus scale it shrinks the gram-keyed
    * shuffle by ~5x. Jaccard over hashed distinct grams equals Jaccard
    * over the string grams unless two distinct grams of the same doc
    * pair collide in 64 bits (P < 1e-11 per corpus at 1e6 distinct
    * grams) — the same collision tolerance every MinHash/SimHash tier
    * here already accepts, except this op stays EXACT in expectation
    * (a collision can only perturb one pair's count by 1, not bias the
    * whole estimator).
    *
    * Two more AllPairs/PPJoin refinements run at candidate generation,
    * BEFORE the pair-distinct shuffle, so pruned pairs never shuffle:
    * the length filter (|a| and |b| compatible: t·max <= min) and the
    * positional filter — for a shared gram at sorted positions (pa, pb)
    * the true overlap i is bounded by min(pa,pb)-1 + 1 + min(na-pa,
    * nb-pb) (grams strictly before the match on BOTH sides can
    * contribute at most min(pa,pb)-1; strictly after, at most
    * min(na-pa, nb-pb)), and i >= ceil(t·(na+nb)/(1+t)) is necessary
    * for jaccard >= t. A row failing the bound proves i < i_min for the
    * whole pair, and a true pair can never have ALL its shared rows
    * fail (each row's bound majorizes the true overlap), so keeping
    * rows that pass and distinct-ing afterwards is recall-safe.
    *
    * `maxGramDfRatio` opens a DISCLOSED-RECALL scale lane past the
    * candidate guard: grams held by
    * more than `ratio × |docs|` documents are pruned from the candidate
    * keys (the capped lane's prefix is the full RARE-gram set) but NOT
    * from the verify arrays, so every emitted pair still carries its
    * EXACT full-set Jaccard and the output is a subset of the exact
    * lane's — precisely `{pairs: jaccard >= t AND >= 1 shared gram with
    * df <= cap}`, a predicate on the DATA alone (no dependence on the
    * gram-hash sort tie-break), which is why the lane is DuckDB-
    * replayable and oracle-gated as dd15. The trade is recall only — a
    * pair is missed iff its EVERY shared gram is hotter than the cap —
    * which is the fuzzy lane's `maxDfRatio` recipe applied to grams: on
    * a SATURATED vocabulary (where the exact lane's candidate volume is
    * quadratic by construction and the guard refuses) the hot grams
    * carry no discriminating signal, so the recall cost concentrates on
    * near-dup pairs made ONLY of corpus-cliché n-grams. RECALL IS
    * CORPUS-DEPENDENT and should be sized from the df of the grams true
    * near-dups actually share: on real text near-dups share rare grams
    * (names, ids, quoted spans) and the cap is cheap; on the sf1
    * word-salad soak corpus (50k docs — the corpus whose exact lane
    * raises at sf10) true pairs share only MID-FREQUENCY grams, so
    * recall inside the volume guard tops out low and minHashLshPairs
    * (recall 0.96–1.00 there) is the better scale path — see COVERAGE
    * round-19 for the measured recall-vs-cap table on both corpus
    * shapes. 0 disables (exact lane, default). Costs one extra count()
    * job to size the cap. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, minJaccard: Double = 0.5,
                        candidatePairBound: Long = 1L << 27,
                        maxGramDfRatio: Double = 0.0): DataFrame = {
    val docs = Materialize.lazyRound(ngramDocsTable(df, textCol, idCol, n,
      minJaccard, gramCapDf(df, maxGramDfRatio)))
    // candidate generation on ids only — the gram arrays join in AFTER the
    // distinct, so the (potentially wide) candidate shuffle carries two
    // longs per row, not two full arrays. Prefix rows carry (pos, n) — two
    // ints — so the length + positional filters (scaladoc) prune BEFORE
    // the distinct; on the sf0.1 word-salad corpus this drops ~40% of
    // candidate rows for two integer comparisons each.
    // Deliberately NOT pinned (round 19 negative result, NgramAb A/B at
    // sf1): the prefix explode feeds the volume probe and both self-join
    // sides, and pinning it (lazyRound) was tried to dedup the 3
    // evaluations — measured WORSE on both arms (probe-off 6.8→10.1 s,
    // probe-on 11.1→13.6 s): with `docs` already pinned, re-running the
    // slice+posexplode per consumer is cheaper than a block-storage
    // round-trip of the 5e6-row prefix table. The probe's disclosed
    // constant stays ~4.3 s at sf1 (its own window+aggregate job).
    val prefixes = ngramPrefixes(docs)
    // candidate-volume guard: prefix filtering is effective only while
    // gram diversity grows with the corpus. On a saturated vocabulary
    // (fixed trigram space, df per gram growing linearly with N) every
    // prefix gram goes hot and the self-join is quadratic by construction
    // (a 100x soak spilled 60 GB for an hour, then died). Projected
    // candidates = Σ over prefix grams of prefixDf² (the join's exact
    // pre-filter row count, ordered-pair form), from the fan-out probe.
    // <= 0 disables — the explicit quadratic opt-in.
    if (candidatePairBound > 0) {
      val projected = Guards.fanOut(prefixes, prefixes, Seq("_gram_")).pairs
      require(projected.compareTo(
          java.math.BigInteger.valueOf(candidatePairBound)) <= 0,
        s"ngramJaccardPairs: projected candidate volume $projected " +
          s"(sum over prefix grams of prefixDf^2) exceeds " +
          s"candidatePairBound=$candidatePairBound — on this corpus the " +
          "gram vocabulary has saturated and the prefix-filtered " +
          "self-join is quadratic in the corpus (soak-measured " +
          "SPILL_OUT_OF_MEMORY at 100x); raise n (more gram diversity), " +
          "raise minJaccard (shorter prefixes), run exact dedup first, " +
          "set maxGramDfRatio to prune hot grams from the candidate keys " +
          "(exact scores, disclosed recall — see its scaladoc), " +
          "or use minHashLshPairs at this density — measured against " +
          "this lane's exact >=0.8-Jaccard truth at sf1 (50k docs, 341 " +
          "true pairs, graft.tools.RecallProbe r19) MinHash 64/16 " +
          "recalls 0.96 at minEstJaccard=0.8 and 1.00 at 0.7, in half " +
          "the time and near-linearly; candidatePairBound <= 0 accepts " +
          "the cost")
    }
    val iMin = ceil(
      (col("_na_") + col("_nb_")) * minJaccard / (1 + minJaccard) - 1e-9)
    val candidates = prefixes
      .select(col("_gram_"), col("_id_").as("id_a"),
        col("_n_").as("_na_"), col("_p_").as("_pa_"))
      .join(prefixes.select(col("_gram_"), col("_id_").as("id_b"),
        col("_n_").as("_nb_"), col("_p_").as("_pb_")), "_gram_")
      .where(col("id_a") < col("id_b") &&
        least(col("_na_"), col("_nb_")) >=
          ceil(greatest(col("_na_"), col("_nb_")) * minJaccard - 1e-9) &&
        least(col("_pa_"), col("_pb_")) - 1 + 1 +
          least(col("_na_") - col("_pa_"), col("_nb_") - col("_pb_")) >= iMin)
      .select("id_a", "id_b").distinct()
    val docA = docs.select(col("_id_").as("id_a"),
      col("_grams_").as("_ga_"), col("_n_").as("_na_"))
    val docB = docs.select(col("_id_").as("id_b"),
      col("_grams_").as("_gb_"), col("_n_").as("_nb_"))
    candidates.join(docA, "id_a").join(docB, "id_b")
      // AllPairs size filter (Bayardo et al. '07 §3.1): jaccard >= t forces
      // t <= |A∩B|/(|A|+|B|-|A∩B|) <= min(|a|,|b|)/max(|a|,|b|), so pairs
      // with incompatible gram-set sizes drop BEFORE the O(|a|+|b|)
      // intersection — the verify stage's dominant cost on long documents
      .where(least(col("_na_"), col("_nb_")) >=
        ceil(greatest(col("_na_"), col("_nb_")) * minJaccard - 1e-9))
      .withColumn("_inter_", size(array_intersect(col("_ga_"), col("_gb_"))))
      .withColumn("jaccard",
        col("_inter_") / (col("_na_") + col("_nb_") - col("_inter_")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }
}

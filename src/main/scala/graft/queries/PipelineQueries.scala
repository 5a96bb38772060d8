package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Parquet

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard), similarity search (brute-force + LSH ANN), and text
  * analysis. Oracle SQL provided wherever DuckDB can mirror the exact
  * computation; signature-based ops (MinHash, SimHash, LSH) get rows-only
  * checks + ScalaTest invariants. */
object PipelineQueries {

  /** pk01/pk02 share one replay (the sharded path's whole point is
    * bit-identical output), as do pp01/pp04 — defined once so the gates
    * can never drift apart. */
  /** Shared dd07/dd08 fixture: corpus = doc_id < 400; the day's ingest =
    * the fresh docs plus re-keyed re-crawls of ten corpus pages and one
    * within-batch duplicate, so both drop paths genuinely fire. */
  private def incrementalDedupDemo(s: SparkSession, d: String,
                                   bloom: Boolean): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.where(col("doc_id") < 400)
    val fresh = docs.where(col("doc_id") >= 400)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val recrawled = docs.where(col("doc_id") < 10)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"), col("n_chars"))
    val redup = docs.where(col("doc_id") === 400)
      .select(lit(10000010L).as("doc_id"), col("text"), col("n_chars"))
    val batch = fresh.unionByName(recrawled).unionByName(redup)
    val out =
      if (bloom) graft.operators.Dedup.exactIncrementalBloom(
        batch, corpus, "text", "doc_id", expectedItems = 4096L)
      else graft.operators.Dedup.exactIncremental(batch, corpus, "text", "doc_id")
    out.select("doc_id", "n_chars").orderBy("doc_id")
  }

  /** dd07/dd08 share one replay — the Bloom path's whole point is
    * bit-identical output to the plain anti-join. */
  private val IncrementalDedupSql =
    """WITH corpus AS (
      |  SELECT text FROM documents WHERE doc_id < 400),
      |batch AS (
      |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 400
      |  UNION ALL
      |  SELECT doc_id + 10000000, text, n_chars FROM documents WHERE doc_id < 10
      |  UNION ALL
      |  SELECT 10000010, text, n_chars FROM documents WHERE doc_id = 400),
      |surv AS (
      |  SELECT doc_id, n_chars,
      |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |  FROM batch WHERE text NOT IN (SELECT text FROM corpus))
      |SELECT doc_id, n_chars FROM surv WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** bp02/bp03 share the 8-round BPE training replay: per round, pair
    * counts over adjacent symbols (weighted by word frequency), the
    * (count DESC, l, r) argmax merge, and a greedy-leftmost re-segment
    * via the chr(31)-joined fold. Consumers start from `s0` = per-word
    * char lists and read `s8` (+ `m1`..`m8` for the vocabulary). */
  /** Full near-dup-graph connected-components replay (recursive CTE over
    * the 3-gram Jaccard pair graph). Shared by dd06 (propagation), dd13
    * (star contraction), and dd14 (incremental fold) — one ground truth,
    * three algorithms, which is exactly each operator's contract. */
  private val Dd06CcSql =
    """WITH RECURSIVE grams AS (
      |  SELECT doc_id,
      |         unnest(list_distinct([array_to_string(w[i:i+2], ' ')
      |                 FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |), pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.src, x.r FROM reach x JOIN edges e ON e.dst = x.id
      |)
      |SELECT id AS doc_id, min(r) AS component, min(r) = id AS keep
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  private val BpeRoundsSql = (1 to 8).map { k =>
    s"""p$k AS (
       |  SELECT l, r, sum(f) AS c FROM (
       |    SELECT unnest(s[1:len(s)-1]) AS l, unnest(s[2:len(s)]) AS r, f
       |    FROM s${k - 1}) z GROUP BY l, r),
       |m$k AS (SELECT l, r FROM p$k ORDER BY c DESC, l, r LIMIT 1),
       |s$k AS (
       |  SELECT w, f, string_split(list_reduce(list_prepend('', s), (acc, x) ->
       |    CASE WHEN x = m.r AND (acc = m.l
       |              OR right(acc, length(m.l) + 1) = chr(31) || m.l)
       |         THEN acc || m.r
       |         WHEN acc = '' THEN x
       |         ELSE acc || chr(31) || x END), chr(31)) AS s
       |  FROM s${k - 1}, m$k m)""".stripMargin
  }.mkString(",\n")

  /** lm01/cq01 share the corpus-LM replay (add-one-smoothed bigram
    * log-prob trained on the corpus itself); the chain ends at `s` =
    * (doc_id, rounded score, bigram count) for scored docs only —
    * consumers left-join it back to the full doc list. */
  private val LmScoreCtes =
    """tw AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS w
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(
      |    [{'prev': w[i-1], 'cur': w[i]} FOR i IN range(2, len(w) + 1)],
      |    recursive := true)
      |  FROM tw WHERE len(w) >= 2),
      |cb AS (
      |  SELECT prev, cur, count(*) AS cbg FROM bg GROUP BY prev, cur),
      |cp AS (
      |  SELECT prev, sum(cbg) AS cprev FROM cb GROUP BY prev),
      |vv AS (
      |  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM tw)),
      |j AS (
      |  SELECT doc_id,
      |    ln((coalesce(cb.cbg, 0) + 1) / (coalesce(cp.cprev, 0) + vv.v)) AS lp
      |  FROM bg
      |  LEFT JOIN cb USING (prev, cur)
      |  LEFT JOIN cp USING (prev), vv),
      |s AS (
      |  SELECT doc_id, round(avg(lp), 5) AS lm_score_r,
      |    CAST(count(*) AS BIGINT) AS n_bigrams
      |  FROM j GROUP BY doc_id)""".stripMargin

  private val PackingSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(
      |      list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
      |      w -> (length(w) + 3) // 4)) AS INTEGER) AS bpe_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, bpe_tokens,
      |    sum(bpe_tokens) OVER (ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - bpe_tokens AS strt
      |  FROM t)
      |SELECT doc_id, bpe_tokens,
      |       CAST(strt // 2048 AS BIGINT) AS seq_id,
      |       CAST(strt % 2048 AS BIGINT) AS seq_offset
      |FROM c ORDER BY doc_id""".stripMargin

  private val BudgetMixSql =
    """WITH dd AS (
      |  SELECT doc_id, lang, text FROM (
      |    SELECT doc_id, lang, text,
      |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM documents) t
      |  WHERE rn = 1),
      |tok AS (
      |  SELECT doc_id, lang,
      |    CAST(list_sum(list_transform(
      |      list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
      |      w -> (length(w) + 3) // 4)) AS BIGINT) AS bpe
      |  FROM dd),
      |cum AS (
      |  SELECT doc_id, lang, bpe,
      |    sum(bpe) OVER (PARTITION BY lang ORDER BY doc_id
      |                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM tok)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(bpe) AS BIGINT) AS tokens,
      |       CAST(max(cum_tokens) AS BIGINT) AS budget_used
      |FROM cum WHERE cum_tokens <= 10000
      |GROUP BY lang ORDER BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup: exact ------------------------------------------------------
    "dd01_exact_dedup_stats" -> ((s, d) => {
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_total"),
        countDistinct(md5(col("text"))).as("n_unique"))
    }),

    "dd02_exact_dedup_keepfirst" -> ((s, d) => {
      Dedup.exact(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), md5(col("text")).as("text_hash"))
        .orderBy("doc_id")
    }),

    // ---- dedup: MinHash LSH (oracle-able: avalanched polyHash64Mixed base
    // + Kirsch–Mitzenmacher slots replayed exactly by the DuckDB oracle) -----
    "dd03_minhash_pairs" -> ((s, d) => {
      Dedup.minHashLshPairs(Tables.documents(s, d), "text", "doc_id",
        numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // ---- dedup: SimHash (oracle-able: polyHash64Mixed token bits) ----------
    "dd04_simhash_pairs" -> ((s, d) => {
      Dedup.simHashPairs(Tables.documents(s, d), "text", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast(IntegerType).as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // ---- dedup: exact n-gram Jaccard (oracle-able) -------------------------
    "dd05_ngram_jaccard_pairs" -> ((s, d) => {
      // trigrams: the word-salad vocabulary is tiny, so bigrams are all
      // high-frequency and defeat prefix filtering; trigram df is ~40x lower
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "text", "doc_id",
        n = 3, minJaccard = 0.8)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard_r"))
        .orderBy("id_a", "id_b")
    }),

    // ---- dedup: df-capped gram lane (round 19 — the disclosed-recall
    // scale path past dd05's candidate guard, oracle-gated). The capped
    // prefix is the full rare-gram set, so the output is a pure DATA
    // predicate — pairs with exact jaccard >= 0.8 sharing at least one
    // gram with df <= max(2, floor(0.002·|docs|)) — replayable by DuckDB
    // with no dependence on Spark's gram-hash sort tie-break. At the
    // gate's sf0.01 the cap (df <= 2) genuinely prunes: 23 of dd05's 25
    // exact pairs survive, so the oracle exercises the pruning path, not
    // a vacuous cap --------------------------------------------------------
    "dd15_ngram_dfcapped_pairs" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "text", "doc_id",
        n = 3, minJaccard = 0.8, maxGramDfRatio = 0.002)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard_r"))
        .orderBy("id_a", "id_b")
    }),

    // ---- dedup: pair list -> clusters + representative (oracle-able) -------
    // connected components over the exact-Jaccard pairs; keep = the min-id
    // representative of each near-dup cluster (pairs alone over-delete on
    // chains A~B~C)
    "dd06_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, d), "text",
        "doc_id", n = 3, minJaccard = 0.8)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- dedup: INCREMENTAL components — docs < 400 are the standing
    // corpus (labeled once), docs ≥ 400 arrive as a delta batch; folding
    // (labels ∪ delta pairs) must equal the full rebuild, so dd06's
    // full-graph oracle gates it verbatim --------------------------------
    "dd14_incremental_components" -> ((s, d) => {
      // r20 (verdict item 3): pin the pair mining once — prior and delta
      // are two filters over the SAME expensive ngram pipeline, which
      // previously re-ran it per branch (same rows, half the passes)
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, d), "text",
        "doc_id", n = 3, minJaccard = 0.8).select("id_a", "id_b")
        .transform(graft.operators.Materialize.round)
      val prior = pairs.where(col("id_b") < 400)
      val delta = pairs.where(col("id_b") >= 400)
      val labels = Dedup.connectedComponents(prior, "id_a", "id_b")
      Dedup.incrementalComponents(labels, delta, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- dedup: star-contraction CC over the SAME pair graph as dd06 —
    // the O(log² n)-round high-diameter scale path; identical min-label
    // output, so it shares dd06's recursive-CTE oracle verbatim ------------
    "dd13_cc_star" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, d), "text",
        "doc_id", n = 3, minJaccard = 0.8)
      Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- dedup: quality-aware representative election over dd06 clusters --
    // same pair graph as dd06, but keep = the LONGEST member (n_chars) of
    // each cluster instead of the min id — what a curation pipeline
    // actually retains
    "dd10_cluster_representatives" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, minJaccard = 0.8)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      Dedup.electRepresentatives(comps,
        docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
        .select(col("id").as("doc_id"), col("component"), col("n_chars"),
          col("keep"))
        .orderBy("doc_id")
    }),

    // ---- dedup: SemDeDup — embedding-space semantic dedup, pairs only
    // within a nearest-centroid cluster (Σ|cluster|² bound, the published
    // scaling argument); cosine >= 0.45 pairs -> connected components ->
    // keep the min-id representative. Full oracle replay: seeded-centroid
    // assignment + ann03's float cosine + dd06's recursive closure.
    // Round 19 (r18 verdict task 6): gated on the autoK PRODUCTION sizing
    // (hash-seeded singleton centroids, k = ceil(n/1024)) — the old
    // pinned label-centroid table is the fixed-k quadratic the
    // degeneracy probe exists to prevent (r16 soak: 15x at 10x data); it
    // survives as Round19Spec's raise-path fixture. The oracle recomputes
    // k from its own count(*) and replays the mix64 seed draw ----------
    "dd11_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val k = Similarity.autoK(emb.count())
      val cent = Similarity.seededCentroids(emb, "vec_id", "embedding", k)
      Similarity.semanticDedup(emb, "vec_id", "embedding", cent,
        minCosine = 0.45)
        .select(col("id").as("vec_id"),
          col("cluster").cast(IntegerType).as("cluster"),
          col("component"), col("keep"))
        .orderBy("vec_id")
    }),

    // ---- sampling: DSIR importance weights (hashed bag-of-words log
    // ratio of target-domain vs raw-pool distributions; target = English
    // docs). One model-sized aggregate + one broadcast-scored scan ----------
    "ds02_dsir_weights" -> ((s, d) => {
      graft.operators.Dsir.importanceWeights(Tables.documents(s, d),
        "text", "doc_id", isTarget = col("lang") === "en", buckets = 64)
        .select(col("doc_id"), round(col("weight"), 6).as("weight_r"))
        .orderBy("doc_id")
    }),

    // ---- sampling: DSIR resampling — Gumbel-max top-k of the ds02
    // weights = a without-replacement softmax sample, noise a pure
    // function of (doc_id, seed) so the draw is retry-stable ----------------
    "ds03_dsir_resample" -> ((s, d) => {
      val w = graft.operators.Dsir.importanceWeights(Tables.documents(s, d),
        "text", "doc_id", isTarget = col("lang") === "en", buckets = 64)
      graft.operators.Dsir.resampleTopK(w, "doc_id", "weight",
        k = 50, seed = 3L)
        .select(col("doc_id"), round(col("sample_key"), 6).as("key_r"),
          col("rank").cast(IntegerType).as("rank"))
        .orderBy("rank")
    }),

    // ---- sampling: multi-epoch annealing schedule — each epoch admits
    // per-lang docs under its OWN token budget (broad mix early, skewed
    // to the target language late); one window, N broadcast filters -------
    "pp06_anneal_schedule" -> ((s, d) => {
      val counted = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCountUdf(col("text")).cast("long").as("bpe_tokens"))
      graft.operators.Sampling.annealingSchedule(counted, "doc_id", "lang",
        "bpe_tokens", Seq(
          1 -> Map("en" -> 5000L, "de" -> 5000L, "fr" -> 5000L,
            "es" -> 5000L, "zh" -> 5000L),
          2 -> Map("en" -> 9000L, "de" -> 3000L, "fr" -> 3000L,
            "es" -> 3000L, "zh" -> 1500L),
          3 -> Map("en" -> 15000L, "de" -> 1000L, "fr" -> 1000L)))
        .groupBy("epoch", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("bpe_tokens").as("tokens"),
          max("cum_weight").as("budget_used"))
        .orderBy("epoch", "lang")
    }),

    // ---- composition capstone for the round-8 tier: entropy quality
    // filter -> DSIR weights fit on the SURVIVORS -> Gumbel-max resample
    // -> per-domain cap. Each stage is individually gated; this gates the
    // chain (including that the DSIR model refits on the filtered pool) --
    "pp07_curation_v2" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = docs.join(
        TextAnalysis.charEntropy(docs, "text", "doc_id")
          .where(col("entropy") >= 2.85).select("doc_id"), "doc_id")
      val w = graft.operators.Dsir.importanceWeights(kept, "text", "doc_id",
        isTarget = col("lang") === "en", buckets = 64)
      val sample = graft.operators.Dsir.resampleTopK(w, "doc_id", "weight",
        k = 100, seed = 5L)
      val withSrc = sample.join(docs.select("doc_id", "source"), "doc_id")
      graft.operators.Sampling.perDomainCap(withSrc, "source", "sample_key",
        "doc_id", cap = 5)
        .select(col("doc_id"), col("source"),
          col("rank").cast(IntegerType).as("rank"),
          col("domain_rank").cast(IntegerType).as("domain_rank"), col("keep"))
        .orderBy("doc_id")
    }),

    // ---- sampling: per-domain quota cap (anti-monoculture stage; rows
    // retained with rank + keep so audits can see what the cap dropped) ------
    "dm01_domain_cap" -> ((s, d) =>
      graft.operators.Sampling.perDomainCap(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id", cap = 20)
        .select(col("doc_id"), col("source"),
          col("domain_rank").cast(IntegerType).as("domain_rank"), col("keep"))
        .orderBy("doc_id")),

    // ---- text analysis: character-distribution Shannon entropy (the
    // "would gzip well" repetitiveness proxy) --------------------------------
    "ts08_char_entropy" -> ((s, d) =>
      TextAnalysis.charEntropy(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), round(col("entropy"), 6).as("entropy_r"))
        .orderBy("doc_id")),

    // ---- text analysis: integer-quantized Flesch reading ease (vowel-
    // group syllables, [.!?]+ sentence runs) — milli fixed point ---------
    "ts09_readability" -> ((s, d) =>
      TextAnalysis.readability(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"), col("flesch_milli"))
        .orderBy("doc_id")),

    // ---- text analysis: Unicode hygiene — NFC normalization plus
    // mixed-script homoglyph triage. Docs are deterministically mutated
    // so all four cases occur: decomposed combining marks (NFC changes
    // them), precomposed accents (NFC-stable), Cyrillic-for-Latin
    // substitution (mixed script), and untouched ASCII ---------------------
    "uc01_unicode_clean" -> ((s, d) => {
      val mutated = Tables.documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(col("text"), lit(" cafe\u0301 nai\u0308ve")))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(col("text"), lit(" caf\u00e9")))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            regexp_replace(col("text"), "a", "\u0430"))
          .otherwise(col("text")).as("text"))
      TextAnalysis.unicodeClean(mutated, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- text extraction: HTML -> text (the crawl WET step). Docs are
    // wrapped in a deterministic HTML shell (style/script subtrees, tags,
    // entities) and must come back exactly; the script body contains a
    // literal "<p>" so subtree removal is provably ordered before tag
    // stripping ------------------------------------------------------------
    "hx01_html_strip" -> ((s, d) => {
      val wrapped = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<html><head><style>p{color:red}</style></head>" +
          "<body class=\"m\"><p>&quot;"),
        col("text"),
        lit("&quot; &amp;amp; <b>tail</b><script type=\"text/js\">" +
          "var x = \"<p>\";</script></body></html>")).as("text"))
      TextAnalysis.stripHtml(wrapped, "text")
        .select(col("doc_id"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // ---- decontamination: exact-substring (verbatim leakage / canary
    // strings — the stricter companion to dc01's n-gram overlap) ------------
    "dc02_exact_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val snippets = docs.where(col("doc_id") % 100 === 7)
        .select(substring(col("text"), 10, 40).as("snippet"))
        .where(length(col("snippet")) === 40)
      graft.operators.Contamination.exactContainsReport(
        docs.where(col("doc_id") % 100 =!= 7), "doc_id", "text",
        snippets, "snippet")
        .select("doc_id", "n_hits", "contaminated")
        .orderBy("doc_id")
    }),

    // ---- memorization risk: per-doc fraction (permille) of distinct
    // 5-grams shared with at least one OTHER document — the span-level
    // duplication signal exact/near dedup misses ---------------------------
    "mr01_memorization_risk" -> ((s, d) =>
      graft.operators.Contamination.memorizationRisk(
          Tables.documents(s, d), "doc_id", "text", n = 5)
        .orderBy("doc_id")),

    // ---- curation audit: drop provenance — every document labeled with
    // the FIRST curation stage that rejects it (short → blocklist →
    // low-entropy), null = kept. The "why was my sample dropped" report a
    // production pipeline must be able to answer; composes three gated
    // signals with a fixed evaluation order, so the label is a pure
    // row-local CASE after one entropy aggregate ---------------------------
    "dp01_drop_provenance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ent = TextAnalysis.charEntropy(docs, "text", "doc_id")
        .select(col("doc_id"), round(col("entropy"), 6).as("_ent_"))
      val toks = length(col("text")) -
        length(replace(col("text"), lit(" "), lit(""))) + lit(1)
      val blocked = Seq("big vector", "slow filter", "merge batch")
        .map(p => col("text").contains(p)).reduce(_ || _)
      docs.join(ent, "doc_id")
        .withColumn("drop_reason",
          when(toks < 30, "short")
            .when(blocked, "blocklist")
            .when(col("_ent_") < 2.78, "low_entropy"))
        .select(col("doc_id"), col("drop_reason").isNull.as("kept"),
          col("drop_reason"))
        .orderBy("doc_id")
    }),

    // ---- text analysis: RAKE keyword extraction — top-3 stopword-
    // delimited phrases per doc by corpus-wide deg/freq word scores ---------
    "kw01_rake_keywords" -> ((s, d) =>
      TextAnalysis.rakeKeywords(Tables.documents(s, d), "doc_id", "text",
          stopwords = Seq("the", "a", "value", "data"))
        .orderBy("doc_id", "rank")),

    // ---- text analysis: blocklist filter (C4 bad-words stage) --------------
    "bf01_blocklist_filter" -> ((s, d) =>
      TextAnalysis.blocklistFilter(Tables.documents(s, d), "doc_id", "text",
        Seq("big vector", "slow filter", "merge batch"))
        .orderBy("doc_id")),

    // ---- sampling: per-shard ingest manifest over sh01's shuffle -----------
    // the bookkeeping a training loader reads: docs + token budget per
    // shard (ts02's BPE-proxy count), plus the dense-ord invariant
    "sh02_shard_manifest" -> ((s, d) => {
      val sharded = graft.operators.Sampling.shuffleShards(
        Tables.documents(s, d), "doc_id", numShards = 8)
      sharded.groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCountUdf(col("text")).cast("long"))
          .as("total_tokens"),
        max("ord").as("max_ord"))
        .orderBy("shard")
    }),

    // ---- similarity: quantized label centroids + nearest-centroid
    // confusion (engine-exact distributed E-step; floor-quantized integer
    // sums dodge float summation-order nondeterminism) -----------------------
    "em01_centroid_confusion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cent = Similarity.quantizedLabelCentroids(emb, "embedding", "label")
      Similarity.nearestCentroidConfusion(emb, "vec_id", "embedding", "label",
        cent)
        .orderBy("label", "assigned")
    }),

    // ---- sampling: deterministic hash-Bernoulli eval holdout ---------------
    // the 10% holdout at seed 1 plus its exact training complement check:
    // output = sampled doc ids (membership replayed bit-exactly)
    "ss01_hash_sample" -> ((s, d) =>
      graft.operators.Sampling.hashSample(Tables.documents(s, d),
        "doc_id", fraction = 0.1, seed = 1L)
        .select("doc_id", "source").orderBy("doc_id")),

    // ---- sampling: per-source rate card (fractions chosen binary-exact
    // so floor(f * 2^63) is identical in any engine) -----------------------
    "st01_stratified_sample" -> ((s, d) =>
      graft.operators.Sampling.stratifiedHashSample(Tables.documents(s, d),
        "doc_id", "source",
        fractions = Map("src0" -> 0.5, "src1" -> 0.75, "src2" -> 0.0),
        default = 0.25, seed = 0L)
        .select("doc_id", "source").orderBy("doc_id")),

    // ---- sequence prep: fill-in-the-middle splits --------------------------
    "fm01_fim_splits" -> ((s, d) =>
      graft.operators.Packing.fimSplits(Tables.documents(s, d),
        "doc_id", "text").orderBy("doc_id")),

    // ---- reporting: per-source dataset card --------------------------------
    // the datasheet a curated release ships: volume, token budget, language
    // spread, length extremes per source
    "ds01_dataset_card" -> ((s, d) =>
      Tables.documents(s, d).groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCountUdf(col("text")).cast("long"))
          .as("total_tokens"),
        countDistinct("lang").as("n_langs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
        .orderBy("source")),

    // ---- dedup: URL canonicalization (oracle-gated, closed-form) -----------
    // even ids get a messy variant (uppercase host, :80, utm param,
    // fragment), odd ids a DIFFERENT messy variant of the PREVIOUS even
    // id's URL (trailing host dot, shuffled params, gclid) — so each
    // odd/even pair collapses to one canonical and keep-first fires on
    // every odd row
    "un01_url_canonical_dedup" -> ((s, d) => {
      val even = pmod(col("doc_id"), lit(2)) === 0
      val base = col("doc_id") - pmod(col("doc_id"), lit(2))
      val url = when(even,
        concat(lit("HTTP://Example.COM:80/docs/"), col("doc_id"),
          lit("?utm_source=feed&b="), pmod(col("doc_id"), lit(3)),
          lit("&a=1#sec")))
        .otherwise(concat(lit("http://EXAMPLE.com./docs/"), base,
          lit("?b="), pmod(base, lit(3)), lit("&a=1&gclid=xyz")))
      val canonUdf = udf((u: String) => graft.functions.TextKernels.canonicalizeUrl(u))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("canonical").orderBy("doc_id")
      Tables.documents(s, d).select(col("doc_id"), canonUdf(url).as("canonical"))
        .withColumn("keep", row_number().over(w) === 1)
        .orderBy("doc_id")
    }),

    // ---- dedup: incremental (new batch vs existing corpus) -----------------
    // doc_id < 400 plays the standing corpus; the day's ingest = the fresh
    // docs PLUS re-crawled copies of ten corpus pages (re-keyed, as a real
    // crawler re-fetching known URLs would produce) and one within-batch
    // duplicate — so the anti join and the keep-first window both
    // genuinely drop rows
    "dd07_incremental_dedup" -> ((s, d) =>
      incrementalDedupDemo(s, d, bloom = false)),

    // same fixture through the Bloom-prefiltered path — the gate IS the
    // bit-identity claim (shared oracle with dd07)
    "dd08_incremental_dedup_bloom" -> ((s, d) =>
      incrementalDedupDemo(s, d, bloom = true)),

    // ---- dedup: incremental NEAR-dup — new batch (doc_id ≡ 4 mod 5) vs
    // the standing corpus via MinHash banding; batch-side signatures only
    // join corpus-side buckets, never corpus x corpus -----------------------
    "dd12_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Dedup.minHashLshNewVsCorpus(
        docs.where(pmod(col("doc_id"), lit(5)) === 4),
        docs.where(pmod(col("doc_id"), lit(5)) =!= 4),
        "text", "doc_id", minEstJaccard = 0.5)
        .orderBy("batch_id", "corpus_id")
    }),

    // ---- dedup: paragraph-level exact dedup with reassembly ----------------
    // paragraphs synthesized by breaking each doc after every 5th word
    // (same regex replayed in the oracle); first global occurrence wins,
    // docs reassemble from survivors in original order
    "pd01_paragraph_dedup" -> ((s, d) => {
      val withParas = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "((\\w+ ){4}\\w+) ", "$1\n").as("ptext"))
      graft.operators.Dedup.dedupParagraphs(withParas, "doc_id", "ptext")
        .orderBy("doc_id")
    }),

    // ---- dedup: boilerplate removal by corpus line frequency ---------------
    // lines synthesized by breaking each doc after every 2nd word (short
    // lines from the small vocabulary collide across docs, so the frequency
    // threshold genuinely fires); any line in > 20 distinct docs is cut
    // from EVERY doc — the remove-all complement of pd01's keep-first
    "bl01_boilerplate_lines" -> ((s, d) => {
      val withLines = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "((\\w+ ){1}\\w+) ", "$1\n").as("ltext"))
      graft.operators.Dedup.removeFrequentLines(withLines, "doc_id", "ltext",
        maxDocFreq = 20)
        .orderBy("doc_id")
    }),

    // ---- dedup: substring-level (token-window) exact dedup -----------------
    // fixture constructs verbatim-quote structure the corpus lacks: 75 docs
    // re-appear under new ids behind an 8-token boilerplate header, so
    // their every window duplicates the original — the copies lose all
    // quoted text (span merge across overlapping windows), the first copy
    // alone keeps the header window, and base docs are untouched
    "sd01_substring_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.where(col("doc_id") < 150).select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") < 75).select(
        (col("doc_id") + 10000L).as("doc_id"),
        concat(lit("header header header header header header header header "),
          col("text")).as("text"))
      graft.operators.Dedup.dedupSubstrings(base.unionByName(copies),
        "doc_id", "text", windowTokens = 8)
        .orderBy("doc_id")
    }),

    // ---- text analysis: C4 heuristic cleaning ------------------------------
    // the corpus has no punctuation or line structure, so the fixture
    // synthesizes both in closed form: 7-word lines, terminal periods on
    // lines ending table/row/line, and a code marker appended to every
    // 7th doc — all replayed in the oracle
    "cf01_c4_clean" -> ((s, d) => {
      val t1 = regexp_replace(col("text"), "((\\w+ ){6}\\w+) ", "$1\n")
      val t2 = regexp_replace(t1, "(?m)(table|row|line)$", "$1.")
      val t3 = when(col("doc_id") % 7 === 0, concat(t2, lit("\n{ code }")))
        .otherwise(t2)
      TextAnalysis.c4Clean(
        Tables.documents(s, d).select(col("doc_id"), t3.as("text")),
        "doc_id", "text", minWordsPerLine = 3, minLinesPerDoc = 2)
        .orderBy("doc_id")
    }),

    // ---- text analysis: corpus-level frequent n-gram table -----------------
    "fn01_frequent_ngrams" -> ((s, d) =>
      TextAnalysis.frequentNgrams(Tables.documents(s, d), "doc_id", "text",
        n = 3, minDocFreq = 5, topK = 50)),

    // ---- sampling: deterministic corpus shuffle into training shards -------
    "sh01_shuffle_shards" -> ((s, d) =>
      graft.operators.Sampling.shuffleShards(Tables.documents(s, d),
        "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("ord"))
        .orderBy("doc_id")),

    // ---- dedup: priority-aware cross-source dedup --------------------------
    // curated re-keys of 30 raw pages enter at priority 0: the curated copy
    // must win over the raw original despite its LARGER id — what
    // distinguishes this from dd02's keep-smallest-id election
    "dd09_priority_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val raw = docs.where(col("doc_id") < 100)
        .select(col("doc_id"), col("text"), lit(1).as("priority"))
      val curated = docs.where(col("doc_id") < 30)
        .select((col("doc_id") + 20000L).as("doc_id"), col("text"),
          lit(0).as("priority"))
      graft.operators.Dedup.exactByPriority(raw.unionByName(curated),
        "text", "doc_id", "priority")
        .select("doc_id", "priority").orderBy("doc_id")
    }),

    // ---- text analysis: the Gopher rule battery ----------------------------
    // minWords=50 splits the corpus genuinely (mean doc length ~54 words);
    // the remaining rules pass or fail per doc on real metrics
    "gq01_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d), "doc_id", "text",
        minWords = 50).orderBy("doc_id")),

    // ---- mixing: head/middle/tail quality buckets over the LM score --------
    // composition of lm01's corpus-LM score with exact ntile bucketing —
    // rounded score + doc_id tie-break keep the global order engine-portable
    "cq01_quality_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.bigramQuality(docs, docs, "doc_id", "text")
        .select(col("doc_id"), round(col("lm_score"), 5).as("lm_score_r"))
      TextAnalysis.scoreBuckets(scored, "doc_id", "lm_score_r", nBuckets = 3)
        .orderBy("doc_id")
    }),

    // ---- layout: z-order clustering for two-dimensional scan pruning ------
    // morton-interleave (o_custkey, order day); the per-z-bucket min/max
    // extents ARE the parquet footer stats a z-ordered write would give —
    // the gate checks the tiling, a spec checks it beats linear layout
    "zo01_zorder_layout" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("_day_", datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))))
      o.withColumn("_z_", graft.operators.Layout.zOrderValue(
          col("o_custkey"), col("_day_")))
        .groupBy(shiftright(col("_z_"), 16).as("z_bucket"))
        .agg(count(lit(1)).as("n_orders"),
          min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
          min("_day_").as("min_day"), max("_day_").as("max_day"))
        .orderBy("z_bucket")
    }),

    // ---- layout: HILBERT-curve clustering — the stronger space-filling
    // curve (every curve step is a 4-neighbor move, so bucket extents are
    // tighter rectangles than morton's power-of-two teleports; spec
    // proves bijection + adjacency + the locality win) -------------------
    "zo02_hilbert_layout" -> ((s, d) => {
      // widen (r19): the 16-level Hilbert walk is a ~100-expression
      // per-row program planned into the scan stage — a single-split
      // orders file serializes it on one core (profiled: 1.05 s of the
      // query's 2.1 s in one task); no-op on well-split inputs
      val o = graft.operators.Parallelism.widen(
          Tables.orders(s, d).select("o_orderkey", "o_custkey",
            "o_orderdate"), col("o_orderkey"))
        .withColumn("_day_", datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))))
      graft.operators.Layout.withHilbertValue(
          o, col("o_custkey"), col("_day_"), "_h_")
        .groupBy(shiftright(col("_h_"), 16).as("h_bucket"))
        .agg(count(lit(1)).as("n_orders"),
          min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
          min("_day_").as("min_day"), max("_day_").as("max_day"))
        .orderBy("h_bucket")
    }),

    // ---- copy-on-write DELETE: range-clustered orders table, predicate
    // hits only the low-key files — those rewrite, the rest stay
    // byte-untouched (spec asserts the surgery); gate re-reads the
    // post-delete table ---------------------------------------------------
    "cow01_delete_rewrite" -> ((s, d) => {
      val dir = graft.sources.Scratch.dir(s, "cow",
        s"cow01_${d}_${System.nanoTime}")
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(16, col("o_orderkey"))
        .write.mode("overwrite").parquet(dir)
      graft.operators.CopyOnWrite.deleteWhere(
        s, dir, col("o_orderkey") < 2000, epoch = 1L)
      Parquet.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)")
            .as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ---- copy-on-write MERGE INTO: keyed customer table upserted with
    // modified balances (matched keys rewrite their files) plus brand-new
    // keys (appended); gate reads the merged end state row-level ---------
    "cow02_merge_upsert" -> ((s, d) => {
      val dir = graft.sources.Scratch.dir(s, "cow",
        s"cow02_${d}_${System.nanoTime}")
      val base = Tables.customer(s, d).select(
        col("c_custkey"),
        col("c_acctbal").cast("decimal(18,2)").as("acctbal"))
      base.repartitionByRange(8, col("c_custkey"))
        .write.mode("overwrite").parquet(dir)
      val batch = base.where(pmod(col("c_custkey"), lit(100)) === 0)
        .select(col("c_custkey"),
          (col("acctbal") + 1000).cast("decimal(18,2)").as("acctbal"))
        .unionByName(base.where(pmod(col("c_custkey"), lit(50)) === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("acctbal")))
      graft.operators.CopyOnWrite.mergeInto(
        s, dir, batch, "c_custkey", epoch = 1L)
      Parquet.read(s, dir)
        .select(col("c_custkey"), col("acctbal").cast("double"))
        .orderBy("c_custkey")
    }),

    // ---- layout: zone-map data-skipping report — z-bucket blocks vs the
    // unclustered orderkey-range baseline, same 30-day predicate. The
    // gated table IS the pruning audit: z-order scans a fraction of its
    // blocks, the linear layout scans ~all (day is uncorrelated with
    // insertion order) — the measurable claim behind zo01's layout ------
    "zm01_zonemap_skipping" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("_day_", datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))))
      // orders span days ~1096-3500 of the 1992 epoch; a 30-day window
      // inside the data range makes the pruning audit non-trivial
      val (lo, hi) = (1400L, 1429L)
      def report(tag: String, block: org.apache.spark.sql.Column,
                 df: org.apache.spark.sql.DataFrame) =
        graft.operators.Layout.zoneMapReport(df, block,
            Seq("o_custkey", "_day_"), "_day_", lo, hi)
          .withColumn("layout", lit(tag))
      val zBlocks = report("zorder",
        shiftright(graft.operators.Layout.zOrderValue(
          col("o_custkey"), col("_day_")), 16), o)
      val linBlocks = report("linear", expr("o_orderkey div 2048"), o)
      zBlocks.unionByName(linBlocks)
        .select(col("layout"), col("block_id"), col("n_rows"),
          col("min_o_custkey"), col("max_o_custkey"),
          col("min__day_").as("min_day"), col("max__day_").as("max_day"),
          col("n_matching"), col("scanned"))
        .orderBy("layout", "block_id")
    }),

    // ---- layout: small-file compaction (the OPTIMIZE bin-pack) — a
    // 48-way fragmented copy of orders rewritten as few near-target
    // files; the gate re-reads the COMPACTED table, proving the rewrite
    // lost and invented nothing (file-count/grouping asserted in spec) ---
    "cmp01_compact_small_files" -> ((s, d) => {
      val frag = graft.sources.Scratch.dir(s, "compact", s"cmp01_src_$d")
      val dest = graft.sources.Scratch.dir(s, "compact", s"cmp01_dest_$d")
      Tables.orders(s, d).repartition(48, col("o_orderkey"))
        .write.mode("overwrite").parquet(frag)
      graft.operators.Layout.compactSmallFiles(
        s, frag, dest, targetBytes = 512L * 1024)
      Parquet.read(s, dest)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)")
            .as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // ---- similarity: hard-negative mining for contrastive training —
    // nearest WRONG-label neighbors per query vector (the exact form;
    // the LSH candidate path composes identically at scale) --------------
    "hn01_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(
        emb.where(col("vec_id") < 50), emb, "vec_id", "embedding",
        "label", k = 3)
        .select(col("query_id"), col("query_label"), col("neighbor_id"),
          col("neighbor_label"), col("rank").cast(IntegerType).as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- similarity search: exact top-3 ANN baseline (oracle-able) ---------
    "ann01_knn_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 50), emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast(IntegerType).as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- label-noise triage: every vector's label vs its 5-NN majority
    // vote — rows outvoted by their neighborhood are relabel candidates ----
    "ln01_knn_disagreement" -> ((s, d) =>
      Similarity.knnLabelDisagreement(Tables.embeddings(s, d),
          "vec_id", "embedding", "label", k = 5)
        .orderBy("vec_id")),

    // ---- weighted k-per-group sample: integer hash-div-weight priority,
    // longest docs favored but not deterministic-top-k; the full selected
    // set (and each row's priority) is gated --------------------------------
    "wsp01_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedPrioritySample(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          "doc_id", "lang", "n_chars", k = 20)
        .orderBy("doc_id")),

    // ---- similarity search: LSH ANN path (oracle-gated: portable
    // Rademacher planes -> DuckDB replays bucketing AND rerank) ------------
    "ann02_knn_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // short signatures + many tables: the synthetic embeddings are
      // near-random, so per-bit collision probability is ~0.6 (LSH's worst
      // case); real clustered embeddings would use 12-16 bits per table
      Similarity.lshTopK(
        emb.where(col("vec_id") < 50), emb, "vec_id", "embedding",
        k = 3, dim = 64, bitsPerTable = 4, nTables = 16,
        portablePlanes = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast(IntegerType).as("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- similarity: embedding near-dup pairs (rows-only) ------------------
    "ann03_embedding_neardup" -> ((s, d) => {
      // synthetic embeddings are near-random (max pairwise cosine ~0.51 at
      // sf0.01), so the demo threshold sits just below that
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), "vec_id",
        "embedding", minCosine = 0.45, dim = 64, exact = true)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
        .orderBy("id_a", "id_b")
    }),

    // ---- similarity: near-dup pairs via the LSH SCALE path (oracle-gated:
    // portable Rademacher planes -> DuckDB replays bucketing AND the
    // cosine filter; ann03 gates the same op's exact broadcast path).
    // Round 19 (r18 verdict task 6): gated on the autoBits PRODUCTION
    // sizing — the old pinned 4-bit fixture knob is the documented
    // quadratic the guards exist to prevent (261 s at sf1 vs 27 s auto);
    // it survives only as Round19Spec's raise-path fixture. The oracle
    // recomputes ceil(ln(n/64)/ln 2) from its own count(*), so the replay
    // self-sizes with the table ----------------------------------------
    "ann05_neardup_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val bits = Similarity.autoBits(emb.count())
      Similarity.cosineNearDupPairs(emb, "vec_id",
        "embedding", minCosine = 0.45, dim = 64, exact = false,
        bitsPerTable = bits, nTables = 16, seed = 7L, portablePlanes = true)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
        .orderBy("id_a", "id_b")
    }),

    // ---- similarity: int8 quantization report (oracle-gated, all-integer
    // outputs except the exact float->double scale) ------------------------
    "qz01_int8_quantize" -> ((s, d) =>
      graft.operators.Quantize.int8Report(
        Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy("vec_id")),

    // ---- similarity: top-k under the QUANTIZED dot product — the 4x-
    // compressed scan path, int64 scores so the ordering replays exactly --
    "ann06_knn_int8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.Quantize.int8TopK(
        emb.where(col("vec_id") < 50), emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast(IntegerType).as("rank"), col("score"))
        .orderBy("query_id", "rank")
    }),

    // ---- similarity: greedy k-center coreset (farthest-point, int8
    // distances so the whole greedy chain replays exactly) ----------------
    "fp01_farthest_points" -> ((s, d) =>
      graft.operators.Similarity.farthestPointsInt8(
          Tables.embeddings(s, d), "vec_id", "embedding", k = 8)
        .orderBy("sel_rank")),

    // ---- text analysis: char/token stats (oracle-able) ---------------------
    "ts01_doc_stats" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).as("text_len"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .as("n_ws_tokens"),
        col("n_chars"))
        .orderBy("doc_id")
    }),

    // ---- text analysis: BPE-ish token budget (oracle-able) -----------------
    "ts02_token_budget" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCountUdf(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    // ---- text analysis: per-lang rollup (oracle-able) ----------------------
    "ts03_lang_rollup" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang")
    }),

    // ---- multimodal plumbing: batched decode + frame sampling (stubbed
    // codec; rows-only) ------------------------------------------------------
    // ---- multimodal dedup: image near-dup pairs by 64-bit average
    // perceptual hash, pigeonhole-blocked like SimHash. ORACLE-gated:
    // PNG is lossless and the hash integer-exact, so DuckDB replays
    // every bit from the synthetic pixel program; the spec additionally
    // pins invariance on planted duplicates/perturbations. Reuses mm01's
    // staged media ------------------------------------------------------
    "mm07_image_neardup" -> ((s, d) => {
      val stage = graft.sources.Scratch.sharedDir("media",
        s"mm01_v1_${d}_${graft.sources.Scratch.fingerprint(s"$d/documents.parquet")}") { tmp =>
        graft.operators.Multimodal.syntheticMedia(
          Tables.documents(s, d).select("doc_id"), "doc_id")
          .write.mode("overwrite").parquet(tmp)
      }
      val media = Parquet.read(s, stage).where(col("media_id") < 100)
      graft.operators.Multimodal.imageNearDupPairs(
          media, "media_id", "bytes", maxHamming = 2)
        .orderBy("id_a", "id_b")
    }),

    "mm01_media_features" -> ((s, d) => {
      // the media table is INPUT data (a real pipeline reads it via
      // binaryFile); synthesize + PNG-encode it once per machine so the
      // timed work is the decode+pool OPERATOR, not fixture generation
      val stage = graft.sources.Scratch.sharedDir("media",
        s"mm01_v1_${d}_${graft.sources.Scratch.fingerprint(s"$d/documents.parquet")}") { tmp =>
        // r20 file-layout fix (guide §6): stage many files so the timed
        // decode scan parallelizes without shuffling blobs (see mm07)
        graft.operators.Multimodal.syntheticMedia(
          Tables.documents(s, d).select("doc_id"), "doc_id")
          .write.mode("overwrite").parquet(tmp)
      }
      val media = Parquet.read(s, stage)
      graft.operators.Multimodal.extractFeatures(media, dim = 16, batchSize = 256)
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.width").as("width"), size(col("features")).as("feat_dim"))
        .orderBy("media_id")
    }),

    // ---- multimodal: REAL nearest-neighbor resize (decode -> integer
    // index remap -> PNG re-encode). Oracle gates the dims projection +
    // re-decode success; the pixel mapping is spec-asserted against the
    // synthetic gradient -----------------------------------------------------
    "mm05_image_resize" -> ((s, d) => {
      val stage = graft.sources.Scratch.sharedDir("media",
        s"mm01_v1_${d}_${graft.sources.Scratch.fingerprint(s"$d/documents.parquet")}") { tmp =>
        // r20 file-layout fix (guide §6): stage many files so the timed
        // decode scan parallelizes without shuffling blobs (see mm07)
        graft.operators.Multimodal.syntheticMedia(
          Tables.documents(s, d).select("doc_id"), "doc_id")
          .write.mode("overwrite").parquet(tmp)
      }
      val media = Parquet.read(s, stage)
      graft.operators.Multimodal.resizeImages(media, outW = 16, outH = 16)
        .select(col("media_id"), col("in_width"), col("in_height"),
          col("out_width"), col("out_height"),
          col("out_bytes").isNotNull.as("encoded"))
        .orderBy("media_id")
    }),

    // ---- multimodal: REAL audio decode (javax.sound.sampled WAV) ----------
    // metadata projection + decode-success flags are the oracle-gated part
    // (the RMS features themselves are spec-asserted bit-exactly against
    // the synthesized PCM in PipelineOpsSpec — WAV is lossless)
    "mm03_audio_features" -> ((s, d) => {
      val stage = graft.sources.Scratch.sharedDir("media",
        s"mm03_v1_${d}_${graft.sources.Scratch.fingerprint(s"$d/documents.parquet")}") { tmp =>
        graft.operators.Multimodal.syntheticAudio(
          Tables.documents(s, d).select("doc_id").where(col("doc_id") < 200), "doc_id")
          .write.mode("overwrite").parquet(tmp)
      }
      val media = Parquet.read(s, stage)
      graft.operators.Multimodal.extractFeatures(media, dim = 8, batchSize = 256)
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.duration_ms").as("duration_ms"),
          size(col("features")).as("feat_dim"),
          col("features").isNotNull.as("decoded"))
        .orderBy("media_id")
    }),

    // ---- multimodal dedup: audio near-dup pairs by autocorrelation-sign
    // fingerprint — same-pitch tones pair across different durations.
    // ORACLE-gated: WAV is lossless integer PCM and the lag sums are
    // exact dyadic rationals, so the sign bits replay as integer sums in
    // DuckDB; spec pins pitch selectivity. Reuses mm03's staged audio,
    // restricted so the 16 pitch classes give bounded same-class pair
    // counts --------------------------------------------------------------
    "mm08_audio_neardup" -> ((s, d) => {
      val stage = graft.sources.Scratch.sharedDir("media",
        s"mm03_v1_${d}_${graft.sources.Scratch.fingerprint(s"$d/documents.parquet")}") { tmp =>
        graft.operators.Multimodal.syntheticAudio(
          Tables.documents(s, d).select("doc_id").where(col("doc_id") < 200), "doc_id")
          .write.mode("overwrite").parquet(tmp)
      }
      val media = Parquet.read(s, stage).where(col("media_id") < 64)
      graft.operators.Multimodal.audioNearDupPairs(
          media, "media_id", "bytes", maxHamming = 4)
        .orderBy("id_a", "id_b")
    }),

    // ---- multimodal: REAL video demux + frame decode ----------------------
    // n_frames_total is the demuxer's own count of '00dc' chunks recovered
    // from the RIFF tree — hash-matching the synthesis formula proves the
    // container round-trip; decoded proves every sampled JPEG frame
    // actually decoded (frame ORDER is spec-asserted via per-frame gray
    // levels, PipelineOpsSpec — JPEG is lossy so values aren't hash-able)
    "mm04_video_frames" -> ((s, d) => {
      val stage = graft.sources.Scratch.sharedDir("media",
        s"mm04_v1_${d}_${graft.sources.Scratch.fingerprint(s"$d/documents.parquet")}") { tmp =>
        graft.operators.Multimodal.syntheticVideo(
          Tables.documents(s, d).select("doc_id").where(col("doc_id") < 100), "doc_id")
          .write.mode("overwrite").parquet(tmp)
      }
      val media = Parquet.read(s, stage)
      graft.operators.Multimodal.sampleFrames(media, nFrames = 4, dim = 4)
        .select(col("media_id"), col("frame_index"), col("n_frames_total"),
          size(col("features")).as("feat_dim"),
          col("features").isNotNull.as("decoded"))
        .orderBy("media_id", "frame_index")
    }),

    // ---- multimodal: animated-GIF frame sampling — the SECOND real
    // container. GIF is lossless, so the oracle gates the EXACT decoded
    // gray of every sampled frame (round(strip-0 luminance * 255) must
    // replay videoFrameGray's integer formula), not just metadata --------
    "mm06_gif_frames" -> ((s, d) => {
      val stage = graft.sources.Scratch.sharedDir("media",
        s"mm06_v1_${d}_${graft.sources.Scratch.fingerprint(s"$d/documents.parquet")}") { tmp =>
        graft.operators.Multimodal.syntheticGif(
          Tables.documents(s, d).select("doc_id").where(col("doc_id") < 100), "doc_id")
          .write.mode("overwrite").parquet(tmp)
      }
      val media = Parquet.read(s, stage)
      graft.operators.Multimodal.sampleFrames(media, nFrames = 4, dim = 4)
        .select(col("media_id"), col("frame_index"), col("n_frames_total"),
          round(element_at(col("features"), 1) * 255)
            .cast(IntegerType).as("gray"))
        .orderBy("media_id", "frame_index")
    }),

    "mm02_frame_samples" -> ((s, d) => {
      val media = graft.operators.Multimodal.syntheticMedia(
        Tables.documents(s, d).select("doc_id").where(col("doc_id") < 100), "doc_id")
      graft.operators.Multimodal.sampleFrames(media, nFrames = 4, dim = 8)
        .select("media_id", "frame_index")
        .orderBy("media_id", "frame_index")
    }),

    // ---- composite: training-mix curation (oracle-able) --------------------
    // The end-to-end curation shape a data pipeline runs before training:
    // exact-dedup keep-first -> BPE-ish token counting -> per-language
    // running token budget (docs admitted in doc_id order until the
    // language's budget is spent) -> per-language rollup. Every stage is a
    // shuffle-native op already gated on its own; this gates the
    // COMPOSITION. Scale note: partitionBy(lang) makes the running sum one
    // sequential pass per language — fine for a demo corpus, but at 100 TB
    // the same admission policy is run as quota splitting (per-shard token
    // pre-aggregate, allocate per-shard quotas from the budget, then filter
    // shard-locally) so no single task scans a whole language.
    "pp01_training_mix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val deduped = Dedup.exact(Tables.documents(s, d), "text", "doc_id")
      val counted = deduped.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCountUdf(col("text")).as("bpe_tokens"))
      val w = Window.partitionBy("lang").orderBy("doc_id")
      counted.withColumn("cum_tokens", sum(col("bpe_tokens")).over(w))
        .where(col("cum_tokens") <= 10000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bpe_tokens")).as("tokens"),
          max(col("cum_tokens")).as("budget_used"))
        .orderBy("lang")
    }),

    // ---- composite: pp01's budget admission via the SHARDED running
    // total (oracle-able; same replay as pp01 — the per-(lang, shard)
    // prefix-sum stitch must reproduce the per-lang window exactly) --------
    "pp04_training_mix_sharded" -> ((s, d) => {
      val deduped = Dedup.exact(Tables.documents(s, d), "text", "doc_id")
      val counted = deduped.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCountUdf(col("text")).as("bpe_tokens"))
      graft.operators.Packing.runningTotalSharded(counted, "doc_id",
          "bpe_tokens", "cum_tokens", numShards = 8, groupCols = Seq("lang"))
        .where(col("cum_tokens") <= 10000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bpe_tokens")).as("tokens"),
          max(col("cum_tokens")).as("budget_used"))
        .orderBy("lang")
    }),

    // ---- composite: temperature-flattened source mix (oracle-able) ---------
    // sqrt-weight quota allocation + avalanched-hash admission order; the
    // whole sampled SET is gated, not just per-source counts, so the oracle
    // proves the admission ordering too
    // ---- exact-k per-source sample: the deterministic eval-subset cut,
    // admission by (mix64(id), id) — a pure function of the data ----------
    "gs01_group_sample" -> ((s, d) =>
      graft.operators.Sampling.groupSample(
          Tables.documents(s, d).select("doc_id", "source"),
          "doc_id", "source", k = 20)
        .orderBy("doc_id")),

    "pp02_temperature_mix" -> ((s, d) => {
      graft.operators.Sampling.temperatureMix(
        Tables.documents(s, d).select("doc_id", "source"), "doc_id", "source",
        targetSize = 200, weight = "sqrt")
        .orderBy("doc_id")
    }),

    // ---- composite: full preprocess chain (oracle-able) --------------------
    // The end-to-end corpus preparation a pretraining run does: exact
    // dedup -> language filter -> repetition-quality filter ->
    // benchmark decontamination -> token counting -> sequence packing ->
    // per-sequence rollup. Every stage is individually gated (dd02, ts05,
    // dc01, ts02, pk01); this gates the COMPOSITION end to end.
    "pp03_preprocess_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val deduped = Dedup.exact(docs, "text", "doc_id")
      val en = deduped.where(col("lang") === "en")
      val rep = TextAnalysis.repetitionStats(en, "text", "doc_id")
        .select(col("doc_id"), col("dup_token_frac"))
      val quality = en.join(rep, "doc_id").where(col("dup_token_frac") <= 0.55)
      val bench = docs.where(col("doc_id") % 100 === 7)
      val overlap = graft.operators.Contamination.overlapReport(
        quality, "doc_id", "text", bench, "text", n = 3, minOverlap = 3)
      val clean = quality.join(
        overlap.where(!col("contaminated")).select("doc_id"), "doc_id")
      val counted = clean.select(col("doc_id"),
        TextAnalysis.tokenCountUdf(col("text")).as("bpe_tokens"))
        // pinned: unpinned, pp03 read 1.16 -> 2.13 s (sf0.1, local[4])
        .transform(graft.operators.Materialize.lazyRound)
      // sharded two-phase packer (identical output to packSequences; the
      // single-sort mode stays gated as pk01's documented reference-parity
      // surface — a composite pipeline should carry the scale plan)
      graft.operators.Packing.packSequencesSharded(counted, "doc_id",
        "bpe_tokens", seqLen = 512)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("bpe_tokens").as("seq_tokens"))
        .orderBy("seq_id")
    }),

    // ---- composite v2: curate -> shard -> ingest -> pack (round-7 tier) ----
    // The round-7 end-to-end: paragraph dedup (drop emptied docs) ->
    // tar-shard the curated corpus -> read the shards BACK (gating that
    // the training-ingest handoff preserves the corpus mid-pipeline) ->
    // token counting -> sharded two-phase packing -> per-sequence rollup.
    // Stages individually gated by pd01, ws01, ts02, pk02.
    "pp05_curate_shard_pipeline" -> ((s, d) => {
      val paras = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "((\\w+ ){4}\\w+) ", "$1\n").as("ptext"))
      val dedup = graft.operators.Dedup.dedupParagraphs(paras, "doc_id", "ptext")
        .where(col("n_kept") > 0)
      val dir = graft.sources.Scratch.dir(s, "tar", s"pp05_$d")
      graft.sources.TarShards.write(
        dedup.repartition(4, col("doc_id")), "doc_id", "dedup_text", dir)
      val back = graft.sources.TarShards.read(s, dir)
        .select(regexp_replace(col("name"), "\\.txt$", "").cast("long").as("doc_id"),
          col("bytes").cast("string").as("text"))
      val counted = back.select(col("doc_id"),
        TextAnalysis.tokenCountUdf(col("text")).as("bpe_tokens"))
      graft.operators.Packing.packSequencesSharded(
          counted, "doc_id", "bpe_tokens", seqLen = 256, numShards = 4)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("bpe_tokens").as("seq_tokens"))
        .orderBy("seq_id")
    }),

    // ---- tokenizer induction: BPE merge training (oracle-able) -------------
    // 8 merge rounds over the documents word-frequency table; the learned
    // merge table (winning pair + weighted count per round) is the gated
    // artifact — the oracle unrolls the same rounds with the same portable
    // greedy-merge fold
    "bp01_bpe_merges" -> ((s, d) => {
      graft.operators.BpeTrainer.trainTable(
        s, Tables.documents(s, d), "text", numMerges = 8)
        .orderBy("rank")
    }),

    // ---- tokenizer induction: BPE apply (oracle-able) ----------------------
    // train 8 merges, then segment every document with them: pieces are
    // counted once per distinct word and joined back to the token stream
    "bp02_bpe_segment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.BpeTrainer.train(docs, "text", numMerges = 8)
      graft.operators.BpeTrainer.segmentCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // ---- tokenizer handoff: text -> vocabulary ids (oracle-able) -----------
    // the array a training loader consumes; merge outputs take ids 0..7,
    // base symbols follow sorted. The gate projects the id array through
    // concat_ws so every gated column is a sortable scalar (the driver's
    // comparator cannot sort array cells); library callers use
    // BpeTrainer.tokenizeToIds directly for the typed array
    "bp03_tokenize_ids" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.BpeTrainer.train(docs, "text", numMerges = 8)
      graft.operators.BpeTrainer.tokenizeToIds(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          concat_ws(",", col("token_ids")).as("token_ids_csv"))
        .orderBy("doc_id")
    }),

    // ---- tokenizer serving: WordPiece greedy longest-match over the
    // BPE-trained vocab; the char set drops {j, q} (a vocab trained on a
    // sibling corpus missing code points) so the [UNK] path is real —
    // 'join' and 'query' become unmatchable words ---------------------------
    "wp01_wordpiece_segment" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val merges = graft.operators.BpeTrainer.train(docs, "text", numMerges = 8)
      // distinct-chars collect is alphabet-bounded (vocab-dictionary
      // precedent), not data-sized
      val chars = docs.select(explode(split(col("text"), "\\s+")).as("w"))
        .where(col("w") =!= "")
        .select(explode(split(col("w"), "")).as("c"))
        .where(col("c") =!= "").distinct().as[String].collect().toSet
      val vocab = graft.operators.WordPiece.vocabFrom(
        merges, chars -- Set("j", "q"))
      graft.operators.WordPiece.segmentStats(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
    }),

    // ---- tokenizer training: unigram-LM (SentencePiece-style) EM —
    // the third tokenizer family (BPE merges bottom-up, WordPiece serves
    // top-down, unigram SCORES segmentations). Gated in two halves since
    // round 17 (the tp01/tp03 structural-split recipe): the EM fixpoint's
    // CHOSEN VOCABULARY is discrete — the pieces are saved as a JSON
    // artifact and both engines independently recompute each piece's
    // integer corpus occurrence count (non-overlapping replace-based
    // substring count over the documents table), so a mangled piece, a
    // reordered rank, or a count miscomputation hash-mismatches across
    // engines. FLOAT half (EM probabilities), pinned: `scores_ok`
    // certifies the artifact round-trip of the rounded prob sum (the
    // PipelineOpsSpec/Round13Spec unigram tests hold the EM gates). ------
    "ug01_unigram_vocab" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val vocab = graft.operators.UnigramLm.train(docs, "text", vocabSize = 40)
      val vocabDf = vocab.zipWithIndex
        .map { case (p, i) => (i + 1, p.piece, math.rint(p.prob * 1e9) / 1e9) }
        .toDF("rank", "piece", "prob_r")
      val slug = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = OracleArtifacts.artDir("ug01", slug)
      // float half: artifact round-trip of the EM probabilities (epsilon
      // — see OracleArtifacts.writeAndCheckSum)
      val scoresOk = OracleArtifacts.writeAndCheckSum(vocabDf, "prob_r", path)
      // discrete half: occurrence counts of the chosen pieces, recomputed
      // from the corpus. vocab-sized broadcast x corpus scan — the same
      // shape DuckDB replays; pieces have no spaces, so text-level
      // replace-counting equals word-level counting
      docs.crossJoin(broadcast(vocabDf.select("rank", "piece")))
        .groupBy("rank", "piece")
        .agg(sum(expr(
          "(length(text) - length(replace(text, piece, ''))) div length(piece)"))
          .as("occ"))
        .withColumn("scores_ok", lit(scoresOk))
        .select(col("rank").cast(IntegerType).as("rank"), col("piece"),
          col("occ"), col("scores_ok"))
        .orderBy("rank")
    }),

    // ---- tokenizer serving: INTEGER-score Viterbi segmentation under
    // the frequency-seeded unigram score table — ORACLE-gated: the
    // scores are fixed-point log-probs of integer counts and the whole
    // per-word DP is integer arithmetic, so DuckDB replays the
    // segmentation exactly, ties included. (The EM-trained float vocab
    // stays on the fixture-gated ug01 trainer — serving is
    // vocab-agnostic, so this is the same Viterbi lattice the spec pins
    // under float probs.) NOTE the oracle unrolls the DP exactly 8 rounds
    // and caps substring starts at 8 — a `guard` CTE in the oracle errors
    // if any fixture word exceeds 8 chars, so a longer fixture fails the
    // oracle loudly instead of reporting a spurious engine mismatch. ------
    "ug02_unigram_segment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scores = graft.operators.UnigramLm.seedPieceScores(
        docs, "text", maxPieceLen = 4, topMulti = 64)
      graft.operators.UnigramLm.segmentStatsInt(docs, "doc_id", "text", scores)
        .orderBy("doc_id")
    }),

    // ---- sequence prep: sliding-window chunking (oracle-able) --------------
    "ck01_chunk_documents" -> ((s, d) => {
      graft.operators.Packing.chunkDocuments(
        Tables.documents(s, d), "text", "doc_id", chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_index")
    }),

    // ---- sequence prep: concat-and-chunk packing (oracle-able) -------------
    "pk01_sequence_packing" -> ((s, d) => {
      val counted = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCountUdf(col("text")).as("bpe_tokens"))
      graft.operators.Packing.packSequences(counted, "doc_id", "bpe_tokens",
        seqLen = 2048)
        .orderBy("doc_id")
    }),

    // ---- sequence prep: length-bucketed batching (oracle-able) -------------
    // the padding-waste reducer: rows bucket by floor(log2(tokens)) (batch
    // members within 2x of each other), consecutive rows per bucket form
    // batches of 32, pad_to = the bucket's power-of-two upper edge
    "lb01_length_batches" -> ((s, d) => {
      val counted = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCountUdf(col("text")).as("bpe_tokens"))
      graft.operators.Packing.lengthBucketedBatches(
          counted, "doc_id", "bpe_tokens", batchSize = 32)
        .select("doc_id", "bpe_tokens", "bucket", "batch_id", "pad_to")
        .orderBy("doc_id")
    }),

    // ---- sequence prep: SHARDED packing (oracle-able; same replay as
    // pk01 — the two-phase per-shard prefix sum must be bit-identical) ------
    "pk02_sequence_packing_sharded" -> ((s, d) => {
      val counted = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCountUdf(col("text")).as("bpe_tokens"))
      graft.operators.Packing.packSequencesSharded(counted, "doc_id",
        "bpe_tokens", seqLen = 2048, numShards = 8)
        .orderBy("doc_id")
    }),

    // ---- sequence prep: whole-document BEST-FIT-DECREASING bin packing
    // (no document ever split, unlike pk01's concat-and-chunk) — per-bin
    // fills gated against a DuckDB recursive-CTE replay of the exact
    // fold; doc_id < 1000 keeps the oracle's recursion depth bounded ------
    "pk03_packing_bfd" -> ((s, d) => {
      val counted = Tables.documents(s, d)
        .where(col("doc_id") < 1000)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        .where(col("n_tokens") <= 256)
      graft.operators.Packing.packBestFitDecreasing(counted, "doc_id",
          "n_tokens", capacity = 256, numShards = 1)
        .groupBy("bin_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("fill"))
        .withColumn("waste", lit(256L) - col("fill"))
        .orderBy("bin_id")
    }),

    // ---- text analysis: full annotate (UDF surface; rows-only) -------------
    "ts04_annotate" -> ((s, d) => {
      TextAnalysis.annotate(Tables.documents(s, d), "text")
        .select("doc_id", "lang", "lang_pred", "n_tokens", "n_distinct_tokens",
          "stopword_ratio", "repetition_ratio", "quality", "bpe_tokens",
          "fingerprint")
        .orderBy("doc_id")
    }),

    // ---- text analysis: Gopher-style repetition metrics (oracle-able) ------
    "ts05_repetition_stats" -> ((s, d) => {
      TextAnalysis.repetitionStats(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          round(col("dup_token_frac"), 6).as("dup_token_frac_r"),
          round(col("dup_bigram_frac"), 6).as("dup_bigram_frac_r"),
          round(col("dup_trigram_frac"), 6).as("dup_trigram_frac_r"),
          round(col("top_bigram_frac"), 6).as("top_bigram_frac_r"))
        .orderBy("doc_id")
    }),

    // ---- text analysis: PII scrub with redaction metering (oracle-able) ----
    // Input synthesized from customer so the corpus actually CONTAINS
    // emails/phones; both regexes live in the Java/RE2-shared subset so the
    // scrub replays exactly in DuckDB
    "ts06_pii_scrub" -> ((s, d) => {
      // the synthetic customer table has no phone column; derive a TPC-H
      // shaped one from the key (digit widths pinned by the arithmetic)
      val phone = concat_ws("-",
        (lit(10) + pmod(col("c_custkey"), lit(90))).cast("string"),
        (lit(100) + pmod(col("c_custkey"), lit(900))).cast("string"),
        (lit(100) + pmod(col("c_custkey") * 7, lit(900))).cast("string"),
        (lit(1000) + pmod(col("c_custkey") * 13, lit(9000))).cast("string"))
      val txt = Tables.customer(s, d).select(col("c_custkey"),
        concat_ws(" ", lit("contact"), lower(col("c_name")), lit("at"),
          concat(lower(col("c_name")), lit("@example.com")), lit("or"),
          phone, lit("ref"), col("c_mktsegment")).as("text"))
      TextAnalysis.scrubPii(txt, "text")
        .select("c_custkey", "n_emails", "n_phones", "text_scrubbed")
        .orderBy("c_custkey")
    }),

    // ---- text analysis: corpus-LM bigram quality (oracle-able) -------------
    // round(…, 5): the per-doc mean of ~100 ln() terms is reassociated
    // differently per engine, so the last ulps wobble; 5 decimals is far
    // inside both engines' agreement and far outside the score's signal
    "lm01_bigram_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.bigramQuality(docs, docs, "doc_id", "text")
        .select(col("doc_id"), round(col("lm_score"), 5).as("lm_score_r"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
        .orderBy("doc_id")
    }),

    // ---- text analysis: extended PII scrub (email/phone/ip/card) -----------
    "ts07_pii_extended" -> ((s, d) => {
      val ip = concat(lit("10."),
        pmod(col("c_custkey"), lit(256)).cast("string"), lit("."),
        pmod(col("c_custkey") * 3, lit(256)).cast("string"), lit("."),
        pmod(col("c_custkey") * 7, lit(256)).cast("string"))
      val card = concat_ws(" ",
        (lit(4000) + pmod(col("c_custkey"), lit(1000))).cast("string"),
        (lit(1000) + pmod(col("c_custkey") * 3, lit(9000))).cast("string"),
        (lit(1000) + pmod(col("c_custkey") * 7, lit(9000))).cast("string"),
        (lit(1000) + pmod(col("c_custkey") * 13, lit(9000))).cast("string"))
      val txt = Tables.customer(s, d).select(col("c_custkey"),
        concat_ws(" ", lit("login from"), ip, lit("email"),
          concat(lower(col("c_name")), lit("@host.org")), lit("pay"),
          card, lit("seg"), col("c_mktsegment")).as("text"))
      TextAnalysis.scrubPiiExtended(txt, "text")
        .select("c_custkey", "n_emails", "n_phones", "n_ips", "n_cards",
          "text_scrubbed")
        .orderBy("c_custkey")
    }),

    // ---- decontamination: train-vs-benchmark n-gram overlap (oracle-able) --
    // benchmark = every 100th doc; trigram overlap >= 3 flags a train doc.
    // The word-salad corpus has real duplicates (dd03/dd05 find them), so
    // the flagged set is non-trivial
    "dc01_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.where(col("doc_id") % 100 === 7)
      val train = docs.where(col("doc_id") % 100 =!= 7)
      graft.operators.Contamination.overlapReport(
          train, "doc_id", "text", bench, "text", n = 3, minOverlap = 3)
        .where(col("contaminated"))
        .select("doc_id", "n_grams", "n_overlap")
        .orderBy("doc_id")
    })
  )

  // Shared SQL shape: unsigned 64-bit polynomial rolling hash of a string
  // (h₀=7, h·31+char, UHUGEINT mod 2⁶⁴ — bit-identical to
  // TextKernels.polyHash64's Long overflow) followed by the splitmix64
  // avalanche finalizer (xor/shift + two odd-constant multiplies; a 64×64
  // product < 2¹²⁸ fits UHUGEINT exactly) — bit-identical to
  // TextKernels.mix64. BMP-only contract: unicode(c) iterates code points,
  // charAt iterates UTF-16 units; they agree for all current (ASCII) data.
  // Inlined per-oracle below.
  val oracleSql: Map[String, String] = Map(
    "dd01_exact_dedup_stats" ->
      """SELECT count(*) AS n_total, count(DISTINCT md5(text)) AS n_unique
        |FROM documents""".stripMargin,

    "dd02_exact_dedup_keepfirst" ->
      """SELECT doc_id, text_hash FROM (
        |  SELECT doc_id, md5(text) AS text_hash,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Full MinHash replay: same shingles (3-word sliding windows of the raw
    // space-split), same avalanched base hashes (polyHash64 -> splitmix64
    // finalizer; h2 = a second mix64 pass), same 64 Kirsch–Mitzenmacher
    // slots (h1 + i*h2 mod 2³¹−1), same 16-band bucket keys (the 4-slot
    // slice joined with ','), same candidate join and est-jaccard filter.
    // All hash arithmetic in UHUGEINT mod 2⁶⁴ — the unsigned % matches the
    // JVM's Long.remainderUnsigned.
    "dd03_minhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |                ELSE [array_to_string(w[i:i+2], ' ')
        |                      FOR i IN range(1, len(w) - 2 + 1)] END) AS shingle
        |  FROM toks),
        |ph AS (
        |  SELECT doc_id, list_reduce(
        |      list_prepend(CAST(7 AS UHUGEINT),
        |        [CAST(unicode(c) AS UHUGEINT) FOR c IN string_split(shingle, '')]),
        |      (a, x) -> (31 * a + x) % CAST(18446744073709551616 AS UHUGEINT)) AS h
        |  FROM sh),
        |m1 AS (SELECT doc_id, (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |                      % CAST(18446744073709551616 AS UHUGEINT) AS h FROM ph),
        |m2 AS (SELECT doc_id, (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |                      % CAST(18446744073709551616 AS UHUGEINT) AS h FROM m1),
        |hx AS (SELECT doc_id, xor(h, h >> 31) AS h FROM m2),
        |n1 AS (SELECT doc_id, h, (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |                      % CAST(18446744073709551616 AS UHUGEINT) AS g FROM hx),
        |n2 AS (SELECT doc_id, h, (xor(g, g >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |                      % CAST(18446744073709551616 AS UHUGEINT) AS g FROM n1),
        |basep AS (
        |  SELECT doc_id,
        |         CAST(h % 2147483647 AS BIGINT) AS b1,
        |         CAST(xor(g, g >> 31) % 2147483647 AS BIGINT) AS b2
        |  FROM n2),
        |sig AS (
        |  SELECT doc_id, i, min((b1 + i * b2) % 2147483647) AS s
        |  FROM basep, range(0, 64) t(i) GROUP BY doc_id, i),
        |sigarr AS (
        |  SELECT doc_id, list(s ORDER BY i) AS sig FROM sig GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS bucket
        |  FROM sigarr, range(0, 16) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN banded b
        |    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, est_jaccard FROM (
        |  SELECT c.id_a, c.id_b,
        |    CAST(len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i]))
        |         AS DOUBLE) / 64 AS est_jaccard
        |  FROM cand c
        |  JOIN sigarr sa ON sa.doc_id = c.id_a
        |  JOIN sigarr sb ON sb.doc_id = c.id_b) t
        |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // Full SimHash replay: per-token avalanched polyHash64Mixed bits
    // (UHUGEINT poly fold + splitmix64 finalizer as three list_transform
    // stages), ±1 bit accumulation, signed signature reconstruction,
    // pigeonhole 16-bit block keys, candidate join, exact hamming verify.
    "dd04_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, list_transform(w, t ->
        |    list_reduce(list_prepend(CAST(7 AS UHUGEINT),
        |      [CAST(unicode(c) AS UHUGEINT) FOR c IN string_split(t, '')]),
        |      (a, x) -> (31 * a + x) % CAST(18446744073709551616 AS UHUGEINT))) AS hs
        |  FROM toks),
        |mh AS (
        |  SELECT doc_id, list_transform(list_transform(list_transform(hs,
        |      h -> (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |           % CAST(18446744073709551616 AS UHUGEINT)),
        |      h -> (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |           % CAST(18446744073709551616 AS UHUGEINT)),
        |      h -> xor(h, h >> 31)) AS hs
        |  FROM th),
        |bits AS (
        |  SELECT doc_id, i,
        |    COALESCE(list_sum(list_transform(hs,
        |      h -> CASE WHEN ((h >> CAST(i AS UHUGEINT)) & 1) = 1 THEN 1 ELSE -1 END)), 0) AS acc
        |  FROM mh, range(0, 64) t(i)),
        |sigu AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN acc > 0 THEN CAST(1 AS HUGEINT) << CAST(i AS INT)
        |             ELSE CAST(0 AS HUGEINT) END) AS su
        |  FROM bits GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, su,
        |    CAST(CASE WHEN su >= CAST(9223372036854775808 AS HUGEINT)
        |              THEN su - CAST(18446744073709551616 AS HUGEINT)
        |              ELSE su END AS BIGINT) AS sh
        |  FROM sigu),
        |blocked AS (
        |  SELECT doc_id, b, (su >> CAST(b * 16 AS INT)) & 65535 AS key
        |  FROM sig, range(0, 4) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM blocked a JOIN blocked b
        |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT c.id_a, c.id_b,
        |         CAST(bit_count(xor(sa.sh, sb.sh)) AS INTEGER) AS hamming
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b) t
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    "dd05_ngram_jaccard_pairs" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |                 FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT id_a, id_b,
        |       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard_r
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // df-capped lane replay: dd05's machinery + the cap predicate. The
    // Spark lane prunes hot grams from CANDIDATE GENERATION only, and its
    // length/positional filters are recall-safe for every jaccard >= t
    // pair under any consistent gram order (PPJoin's bound majorizes the
    // true overlap row-wise), so the output is exactly "exact pairs that
    // share >= 1 rare gram" — has_rare below. capdf replays Spark's
    // max(2, (ratio * count).toLong) sizing from the oracle's own count(*)
    "dd15_ngram_dfcapped_pairs" ->
      """WITH cap AS (
        |  SELECT greatest(2, CAST(floor(0.002 * count(*)) AS BIGINT)) AS capdf
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |                 FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |), dfreq AS (
        |  SELECT gram, count(*) AS df FROM grams GROUP BY gram
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i,
        |         max(CASE WHEN d.df <= (SELECT capdf FROM cap)
        |                  THEN 1 ELSE 0 END) AS has_rare
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  JOIN dfreq d ON d.gram = a.gram
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT id_a, id_b,
        |       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard_r
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8 AND has_rare = 1
        |ORDER BY id_a, id_b""".stripMargin,

    // incremental dedup replay: text-equality anti join (the Spark side
    // joins on md5 digests — identical grouping), then within-batch
    // keep-first; dd08 (Bloom path) shares it because its output contract
    // IS bit-identity with dd07
    "dd07_incremental_dedup" -> IncrementalDedupSql,
    "dd08_incremental_dedup_bloom" -> IncrementalDedupSql,

    // incremental near-dup replay: dd03's full MinHash machinery over ALL
    // documents (signatures are per-doc, so computing them corpus-wide is
    // equivalent), candidates restricted to batch x corpus
    "dd12_incremental_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |                ELSE [array_to_string(w[i:i+2], ' ')
        |                      FOR i IN range(1, len(w) - 2 + 1)] END) AS shingle
        |  FROM toks),
        |ph AS (
        |  SELECT doc_id, list_reduce(
        |      list_prepend(CAST(7 AS UHUGEINT),
        |        [CAST(unicode(c) AS UHUGEINT) FOR c IN string_split(shingle, '')]),
        |      (a, x) -> (31 * a + x) % CAST(18446744073709551616 AS UHUGEINT)) AS h
        |  FROM sh),
        |m1 AS (SELECT doc_id, (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |                      % CAST(18446744073709551616 AS UHUGEINT) AS h FROM ph),
        |m2 AS (SELECT doc_id, (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |                      % CAST(18446744073709551616 AS UHUGEINT) AS h FROM m1),
        |hx AS (SELECT doc_id, xor(h, h >> 31) AS h FROM m2),
        |n1 AS (SELECT doc_id, h, (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |                      % CAST(18446744073709551616 AS UHUGEINT) AS g FROM hx),
        |n2 AS (SELECT doc_id, h, (xor(g, g >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |                      % CAST(18446744073709551616 AS UHUGEINT) AS g FROM n1),
        |basep AS (
        |  SELECT doc_id,
        |         CAST(h % 2147483647 AS BIGINT) AS b1,
        |         CAST(xor(g, g >> 31) % 2147483647 AS BIGINT) AS b2
        |  FROM n2),
        |sig AS (
        |  SELECT doc_id, i, min((b1 + i * b2) % 2147483647) AS s
        |  FROM basep, range(0, 64) t(i) GROUP BY doc_id, i),
        |sigarr AS (
        |  SELECT doc_id, list(s ORDER BY i) AS sig FROM sig GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS bucket
        |  FROM sigarr, range(0, 16) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
        |  FROM banded a JOIN banded b
        |    ON a.b = b.b AND a.bucket = b.bucket
        |   AND a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4)
        |SELECT batch_id, corpus_id, est_jaccard FROM (
        |  SELECT c.batch_id, c.corpus_id,
        |    CAST(len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i]))
        |         AS DOUBLE) / 64 AS est_jaccard
        |  FROM cand c
        |  JOIN sigarr sa ON sa.doc_id = c.batch_id
        |  JOIN sigarr sb ON sb.doc_id = c.corpus_id) t
        |WHERE est_jaccard >= 0.5 ORDER BY batch_id, corpus_id""".stripMargin,

    // round-7 composite replay: pd01's paragraph dedup (docs that keep >= 1
    // paragraph), ts02's token count on the reassembled text, pk01/pk02's
    // prefix-sum packing at seqLen 256, per-sequence rollup. The tar-shard
    // hop is identity on (doc_id, text) — ws01 gates that independently
    "pp05_curate_shard_pipeline" ->
      """WITH pt AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(text, '((\w+ ){4}\w+) ', '\1' || chr(10), 'g'),
        |    chr(10)) AS ps
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, unnest(
        |    [{'pos': i - 1, 'p': ps[i]} FOR i IN range(1, len(ps) + 1)],
        |    recursive := true)
        |  FROM pt),
        |kept AS (
        |  SELECT doc_id, pos, p,
        |    row_number() OVER (PARTITION BY p ORDER BY doc_id, pos) AS rn
        |  FROM paras),
        |reb AS (
        |  SELECT doc_id, string_agg(p, chr(10) ORDER BY pos) AS dtext
        |  FROM kept WHERE rn = 1 GROUP BY doc_id),
        |t AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(
        |    list_filter(string_split_regex(dtext, '\s+'), w -> w <> ''),
        |    w -> (length(w) + 3) // 4)) AS INTEGER) AS bpe_tokens
        |  FROM reb),
        |c AS (
        |  SELECT doc_id, bpe_tokens,
        |    sum(bpe_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - bpe_tokens AS strt
        |  FROM t)
        |SELECT CAST(strt // 256 AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(bpe_tokens) AS BIGINT) AS seq_tokens
        |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin,

    // paragraph dedup replay: same 5-word break regex, first occurrence by
    // (doc_id, pos) per distinct paragraph (Spark windows on md5(p) — same
    // grouping), string_agg reassembly ordered by position
    "pd01_paragraph_dedup" ->
      """WITH pt AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(text, '((\w+ ){4}\w+) ', '\1' || chr(10), 'g'),
        |    chr(10)) AS ps
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, unnest(
        |    [{'pos': i - 1, 'p': ps[i]} FOR i IN range(1, len(ps) + 1)],
        |    recursive := true)
        |  FROM pt),
        |kept AS (
        |  SELECT doc_id, pos, p,
        |    row_number() OVER (PARTITION BY p ORDER BY doc_id, pos) AS rn
        |  FROM paras),
        |reb AS (
        |  SELECT doc_id, string_agg(p, chr(10) ORDER BY pos) AS dedup_text,
        |    CAST(count(*) AS INTEGER) AS n_kept
        |  FROM kept WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.dedup_text, '') AS dedup_text,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN reb r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // boilerplate replay: same 2-word break regex; document frequency per
    // distinct line (Spark groups by md5(line) — identical grouping),
    // remove ALL occurrences past the threshold, reassemble by position
    "bl01_boilerplate_lines" ->
      """WITH pt AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(text, '((\w+ ){1}\w+) ', '\1' || chr(10), 'g'),
        |    chr(10)) AS ls
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, unnest(
        |    [{'pos': i - 1, 'l': ls[i]} FOR i IN range(1, len(ls) + 1)],
        |    recursive := true)
        |  FROM pt),
        |freq AS (
        |  SELECT l FROM lines GROUP BY l HAVING count(DISTINCT doc_id) > 20),
        |kept AS (
        |  SELECT doc_id, pos, l FROM lines
        |  WHERE l NOT IN (SELECT l FROM freq)),
        |reb AS (
        |  SELECT doc_id, string_agg(l, chr(10) ORDER BY pos) AS clean_text,
        |    CAST(count(*) AS INT) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN reb r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // substring-dedup replay: same constructed corpus, stride-1 8-token
    // windows keyed by md5 of the window text (what Spark shuffles), first
    // occurrence by (doc_id, start), duplicate spans exploded to positions
    // and anti-joined out, tokens reassembled in order
    "sd01_substring_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    'header header header header header header header header ' || text
        |  FROM documents WHERE doc_id < 75),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ts
        |  FROM docs),
        |tok AS (
        |  SELECT doc_id, unnest(
        |    [{'pos': i - 1, 't': ts[i]} FOR i IN range(1, len(ts) + 1)],
        |    recursive := true)
        |  FROM toks),
        |wins AS (
        |  SELECT doc_id, unnest(
        |    [{'strt': i - 1, 'h': md5(array_to_string(ts[i:i+7], ' '))}
        |     FOR i IN range(1, len(ts) - 6)], recursive := true)
        |  FROM toks WHERE len(ts) >= 8),
        |dup AS (
        |  SELECT doc_id, strt FROM (
        |    SELECT doc_id, strt,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, strt) AS rn
        |    FROM wins) WHERE rn > 1),
        |rem AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, unnest(range(strt, strt + 8)) AS pos FROM dup)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.t FROM tok t
        |  LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos
        |  WHERE r.doc_id IS NULL),
        |reb AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS kept_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_tot FROM tok GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(reb.kept_text, '') AS kept_text,
        |  CAST(coalesce(tot.n_tot, 0) - coalesce(reb.n_kept, 0) AS INT)
        |    AS n_removed
        |FROM (SELECT DISTINCT doc_id FROM docs) d
        |LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // C4-clean replay: same fixture construction (7-word lines, terminal
    // periods, every-7th-doc code marker), line predicate = terminal punct
    // + min words + no 'javascript', doc rules = code/lorem markers.
    // DuckDB's array_to_string is NULL on [], Spark's array_join is '' —
    // hence the coalesce
    "cf01_c4_clean" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN s2 || chr(10) || '{ code }'
        |         ELSE s2 END AS text
        |  FROM (SELECT doc_id, regexp_replace(
        |      regexp_replace(text, '((\w+ ){6}\w+) ', '\1' || chr(10), 'g'),
        |      '(?m)(table|row|line)$', '\1.', 'g') AS s2 FROM documents)),
        |l AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls,
        |    (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) AS bad
        |  FROM t),
        |k AS (
        |  SELECT doc_id, bad, len(ls) AS n_lines,
        |    list_filter(ls, x -> right(rtrim(x), 1) IN ('.', '!', '?', '"')
        |      AND len(list_filter(string_split_regex(x, '\s+'),
        |                          w -> w <> '')) >= 3
        |      AND NOT contains(lower(x), 'javascript')) AS ks
        |  FROM l)
        |SELECT doc_id,
        |  CASE WHEN bad THEN ''
        |       ELSE coalesce(array_to_string(ks, chr(10)), '') END AS clean_text,
        |  CAST(n_lines AS INT) AS n_lines,
        |  CAST(CASE WHEN bad THEN 0 ELSE len(ks) END AS INT) AS n_kept,
        |  (NOT bad AND len(ks) >= 2) AS doc_kept
        |FROM k ORDER BY doc_id""".stripMargin,

    // frequent-ngram replay: lowercased \W+ tokens, per-doc distinct
    // 3-grams (so count(*) IS document frequency), threshold + total-order
    // top-K (doc_freq desc, gram) — the tie at the boundary is broken
    // identically in both engines
    "fn01_frequent_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\W+'), w -> w <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ts[i:i+2], ' ') FOR i IN range(1, len(ts) - 1)]))
        |    AS gram
        |  FROM toks WHERE len(ts) >= 3)
        |SELECT gram, count(*) AS doc_freq FROM g GROUP BY gram
        |HAVING count(*) >= 5 ORDER BY doc_freq DESC, gram LIMIT 50""".stripMargin,

    // shuffle-shard replay: splitmix64 of doc_id in UHUGEINT (the ann02
    // recipe); shard = h mod 8 — equal to Spark's signed pmod because the
    // shard count divides 2^64; per-shard rank orders by xor(h, 2^63),
    // which maps unsigned order onto signed two's-complement order
    "sh01_shuffle_shards" ->
      """WITH m AS (
        |  SELECT doc_id, xor(p2, p2 >> 31) AS h FROM (
        |    SELECT doc_id,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT doc_id,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT doc_id, CAST(doc_id AS UHUGEINT) AS p0
        |            FROM documents))))
        |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8
        |    ORDER BY xor(h, CAST(9223372036854775808 AS UHUGEINT))) - 1
        |    AS BIGINT) AS ord
        |FROM m ORDER BY doc_id""".stripMargin,

    // dd10 replay: dd06's recursive-CTE transitive closure, then the
    // quality election — row_number per component by (n_chars desc, id)
    "dd10_cluster_representatives" ->
      """WITH RECURSIVE grams AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |                 FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, x.r FROM reach x JOIN edges e ON e.dst = x.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |), e AS (
        |  SELECT c.id, c.component, d.n_chars,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY d.n_chars DESC, c.id) AS rk
        |  FROM comp c JOIN documents d ON d.doc_id = c.id)
        |SELECT id AS doc_id, component, n_chars, rk = 1 AS keep
        |FROM e ORDER BY doc_id""".stripMargin,

    // SemDeDup replay: the autoK seeded-centroid draw (k = ceil(n/1024)
    // from count(*); seeds = the k smallest (mix64(vec_id), vec_id) —
    // signed mix64 order is the unsigned order with the sign bit
    // flipped, hence the xor-2^63 rotation), singleton quantized
    // centroids, ann03's normalize-to-float + ascending-double cosine,
    // pairs restricted to a shared cluster, dd06's recursive closure
    "dd11_semantic_dedup" ->
      """WITH RECURSIVE kk AS (
        |  SELECT CAST(greatest(1, ceil(CAST(count(*) AS DOUBLE) / 1024.0))
        |    AS BIGINT) AS k
        |  FROM embeddings),
        |sh AS (
        |  SELECT vec_id, embedding, xor(p2, p2 >> 31) AS h FROM (
        |    SELECT vec_id, embedding,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT vec_id, embedding,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT vec_id, embedding, CAST(vec_id AS UHUGEINT) AS p0
        |            FROM embeddings))) a),
        |seeds AS (
        |  SELECT vec_id AS label, embedding FROM (
        |    SELECT vec_id, embedding, row_number() OVER (ORDER BY
        |      xor(h, CAST(9223372036854775808 AS UHUGEINT)), vec_id) AS rk
        |    FROM sh) t, kk WHERE t.rk <= kk.k),
        |ca AS (
        |  SELECT label AS c_label, CAST(1 AS BIGINT) AS n,
        |    [CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)
        |     FOR e IN embedding] AS cs
        |  FROM seeds),
        |qv AS (
        |  SELECT vec_id,
        |    [floor(CAST(e AS DOUBLE) * 1000) FOR e IN embedding] AS qs
        |  FROM embeddings),
        |dist AS (
        |  SELECT qv.vec_id, ca.c_label,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [(qs[i] - cs[i] / n) * (qs[i] - cs[i] / n)
        |       FOR i IN range(1, 65)]),
        |      (a, b) -> a + b) AS d
        |  FROM qv, ca),
        |asg AS (
        |  SELECT vec_id, c_label AS cluster FROM (
        |    SELECT vec_id, c_label,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, c_label)
        |        AS rk
        |    FROM dist) t
        |  WHERE rk = 1),
        |nn AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]),
        |      (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |u AS (
        |  SELECT vec_id,
        |    CASE WHEN nrm = 0 THEN embedding
        |         ELSE [CAST(x / nrm AS REAL) FOR x IN embedding] END AS uv
        |  FROM nn),
        |pairs AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM asg x
        |  JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  JOIN u a ON a.vec_id = x.vec_id
        |  JOIN u b ON b.vec_id = y.vec_id
        |  WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CAST(a.uv[i] AS DOUBLE) * CAST(b.uv[i] AS DOUBLE)
        |       FOR i IN range(1, len(a.uv) + 1)]),
        |      (p, q) -> p + q) >= 0.45),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, x.r FROM reach x JOIN edges e ON e.dst = x.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT g.vec_id, CAST(g.cluster AS INTEGER) AS cluster,
        |  coalesce(c.component, g.vec_id) AS component,
        |  coalesce(c.component, g.vec_id) = g.vec_id AS keep
        |FROM asg g LEFT JOIN comp c ON c.id = g.vec_id
        |ORDER BY g.vec_id""".stripMargin,

    // DSIR replay: polyHash64Mixed token buckets (mod 64, unsigned), the
    // same add-1-smoothed integer counts, ln of the identical one-division
    // double ratio, per-doc fold in token order
    "ds02_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS w
        |  FROM documents),
        |bl AS (
        |  SELECT doc_id, lang,
        |    list_transform(list_transform(list_transform(list_transform(w,
        |      t -> list_reduce(list_prepend(CAST(7 AS UHUGEINT),
        |             [CAST(unicode(c) AS UHUGEINT)
        |              FOR c IN string_split(t, '')]),
        |             (a, x) -> (31 * a + x)
        |               % CAST(18446744073709551616 AS UHUGEINT))),
        |      h -> (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |           % CAST(18446744073709551616 AS UHUGEINT)),
        |      h -> (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |           % CAST(18446744073709551616 AS UHUGEINT)),
        |      h -> CAST(xor(h, h >> 31) % 64 AS INT)) AS bs
        |  FROM toks),
        |flat AS (SELECT doc_id, lang, unnest(bs) AS b FROM bl),
        |st0 AS (
        |  SELECT b, count(*) AS s_cnt,
        |    count(*) FILTER (WHERE lang = 'en') AS t_cnt
        |  FROM flat GROUP BY b),
        |st AS (
        |  SELECT r.b, coalesce(s_cnt, 0) AS s_cnt, coalesce(t_cnt, 0) AS t_cnt
        |  FROM range(0, 64) r(b) LEFT JOIN st0 ON st0.b = r.b),
        |tot AS (SELECT sum(s_cnt) AS s_tot, sum(t_cnt) AS t_tot FROM st),
        |lr AS (
        |  SELECT list(ln((t_cnt + 1.0) * (s_tot + 64)
        |                 / ((s_cnt + 1.0) * (t_tot + 64))) ORDER BY b) AS a
        |  FROM st, tot)
        |SELECT doc_id,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    [a[b + 1] FOR b IN bs]), (x, y) -> x + y), 6) AS weight_r
        |FROM bl, lr ORDER BY doc_id""".stripMargin,

    // DSIR-resample replay: ds02's weight pipeline, then the Gumbel key —
    // mix64(doc_id + 3·γ mod 2⁶⁴) high 53 bits → u ∈ (0,1) → −ln(−ln u);
    // top-50 by (key DESC, doc_id)
    "ds03_dsir_resample" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS w
        |  FROM documents),
        |bl AS (
        |  SELECT doc_id, lang,
        |    list_transform(list_transform(list_transform(list_transform(w,
        |      t -> list_reduce(list_prepend(CAST(7 AS UHUGEINT),
        |             [CAST(unicode(c) AS UHUGEINT)
        |              FOR c IN string_split(t, '')]),
        |             (a, x) -> (31 * a + x)
        |               % CAST(18446744073709551616 AS UHUGEINT))),
        |      h -> (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |           % CAST(18446744073709551616 AS UHUGEINT)),
        |      h -> (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |           % CAST(18446744073709551616 AS UHUGEINT)),
        |      h -> CAST(xor(h, h >> 31) % 64 AS INT)) AS bs
        |  FROM toks),
        |flat AS (SELECT doc_id, lang, unnest(bs) AS b FROM bl),
        |st0 AS (
        |  SELECT b, count(*) AS s_cnt,
        |    count(*) FILTER (WHERE lang = 'en') AS t_cnt
        |  FROM flat GROUP BY b),
        |st AS (
        |  SELECT r.b, coalesce(s_cnt, 0) AS s_cnt, coalesce(t_cnt, 0) AS t_cnt
        |  FROM range(0, 64) r(b) LEFT JOIN st0 ON st0.b = r.b),
        |tot AS (SELECT sum(s_cnt) AS s_tot, sum(t_cnt) AS t_tot FROM st),
        |lr AS (
        |  SELECT list(ln((t_cnt + 1.0) * (s_tot + 64)
        |                 / ((s_cnt + 1.0) * (t_tot + 64))) ORDER BY b) AS a
        |  FROM st, tot),
        |wt AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [a[b + 1] FOR b IN bs]), (x, y) -> x + y) AS weight
        |  FROM bl, lr),
        |g AS (
        |  SELECT doc_id, weight, xor(p2, p2 >> 31) >> 11 AS h FROM (
        |    SELECT doc_id, weight,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT doc_id, weight,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT doc_id, weight,
        |              CAST(doc_id AS UHUGEINT) +
        |                CAST(15755400384260043839 AS UHUGEINT) AS p0
        |            FROM wt)))),
        |keyed AS (
        |  SELECT doc_id,
        |    weight + (-ln(-ln((CAST(h AS DOUBLE) + 0.5)
        |                      / 9007199254740992))) AS sample_key
        |  FROM g)
        |SELECT doc_id, round(sample_key, 6) AS key_r,
        |  CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id)
        |       AS INTEGER) AS rank
        |FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 50""".stripMargin,

    // anneal-schedule replay: ts02's token proxy, ONE cumulative window,
    // per-epoch budget rows joined and filtered
    "pp06_anneal_schedule" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(list_sum(list_transform(
        |      list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
        |      w -> (length(w) + 3) // 4)) AS BIGINT) AS bpe
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, lang, bpe,
        |    sum(bpe) OVER (PARTITION BY lang ORDER BY doc_id
        |                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM tok),
        |budgets(epoch, lang, b) AS (VALUES
        |  (1, 'en', 5000), (1, 'de', 5000), (1, 'fr', 5000),
        |  (1, 'es', 5000), (1, 'zh', 5000),
        |  (2, 'en', 9000), (2, 'de', 3000), (2, 'fr', 3000),
        |  (2, 'es', 3000), (2, 'zh', 1500),
        |  (3, 'en', 15000), (3, 'de', 1000), (3, 'fr', 1000))
        |SELECT b.epoch, c.lang, count(*) AS n_docs,
        |  CAST(sum(c.bpe) AS BIGINT) AS tokens,
        |  CAST(max(c.cum_tokens) AS BIGINT) AS budget_used
        |FROM cum c JOIN budgets b ON b.lang = c.lang
        |WHERE c.cum_tokens <= b.b
        |GROUP BY b.epoch, c.lang ORDER BY b.epoch, c.lang""".stripMargin,

    // curation-v2 replay: ts08's entropy chain filters the pool, ds02's
    // DSIR machinery refits on the survivors, ds03's Gumbel key (seed 5:
    // doc_id + 5·γ mod 2⁶⁴ = +1663341875487337577), dm01's cap window
    "pp07_curation_v2" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ''), c -> c <> '')) AS c
        |  FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        |eagg AS (
        |  SELECT doc_id, list(k ORDER BY c) AS ks, sum(k) AS n
        |  FROM cnt GROUP BY doc_id),
        |ent AS (
        |  SELECT doc_id, -list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    [(k / n) * ln(k / n) FOR k IN ks]), (x, y) -> x + y) AS e
        |  FROM eagg),
        |kept AS (
        |  SELECT d.doc_id, d.lang, d.source, d.text
        |  FROM documents d JOIN ent ON ent.doc_id = d.doc_id
        |  WHERE ent.e >= 2.85),
        |toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS w
        |  FROM kept),
        |bl AS (
        |  SELECT doc_id, lang,
        |    list_transform(list_transform(list_transform(list_transform(w,
        |      t -> list_reduce(list_prepend(CAST(7 AS UHUGEINT),
        |             [CAST(unicode(c) AS UHUGEINT)
        |              FOR c IN string_split(t, '')]),
        |             (a, x) -> (31 * a + x)
        |               % CAST(18446744073709551616 AS UHUGEINT))),
        |      h -> (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |           % CAST(18446744073709551616 AS UHUGEINT)),
        |      h -> (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |           % CAST(18446744073709551616 AS UHUGEINT)),
        |      h -> CAST(xor(h, h >> 31) % 64 AS INT)) AS bs
        |  FROM toks),
        |flat AS (SELECT doc_id, lang, unnest(bs) AS b FROM bl),
        |st0 AS (
        |  SELECT b, count(*) AS s_cnt,
        |    count(*) FILTER (WHERE lang = 'en') AS t_cnt
        |  FROM flat GROUP BY b),
        |st AS (
        |  SELECT r.b, coalesce(s_cnt, 0) AS s_cnt, coalesce(t_cnt, 0) AS t_cnt
        |  FROM range(0, 64) r(b) LEFT JOIN st0 ON st0.b = r.b),
        |tot AS (SELECT sum(s_cnt) AS s_tot, sum(t_cnt) AS t_tot FROM st),
        |lr AS (
        |  SELECT list(ln((t_cnt + 1.0) * (s_tot + 64)
        |                 / ((s_cnt + 1.0) * (t_tot + 64))) ORDER BY b) AS a
        |  FROM st, tot),
        |wt AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [a[b + 1] FOR b IN bs]), (x, y) -> x + y) AS weight
        |  FROM bl, lr),
        |g AS (
        |  SELECT doc_id, weight, xor(p2, p2 >> 31) >> 11 AS h FROM (
        |    SELECT doc_id, weight,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT doc_id, weight,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT doc_id, weight,
        |              CAST(doc_id AS UHUGEINT) +
        |                CAST(1663341875487337577 AS UHUGEINT) AS p0
        |            FROM wt)))),
        |keyed AS (
        |  SELECT doc_id,
        |    weight + (-ln(-ln((CAST(h AS DOUBLE) + 0.5)
        |                      / 9007199254740992))) AS sample_key
        |  FROM g),
        |topk AS (
        |  SELECT doc_id, sample_key,
        |    row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rank
        |  FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100),
        |capd AS (
        |  SELECT t.doc_id, d.source, t.rank,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY t.sample_key DESC, t.doc_id) AS drk
        |  FROM topk t JOIN documents d ON d.doc_id = t.doc_id)
        |SELECT doc_id, source, CAST(rank AS INTEGER) AS rank,
        |  CAST(drk AS INTEGER) AS domain_rank, drk <= 5 AS keep
        |FROM capd ORDER BY doc_id""".stripMargin,

    // domain-cap replay: one window, best-quality-first rank per source
    "dm01_domain_cap" ->
      """SELECT doc_id, source,
        |  CAST(rk AS INTEGER) AS domain_rank, rk <= 20 AS keep
        |FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    // memorization-risk replay: same distinct (doc, gram) set, same
    // gram-count window, integer permille
    "mr01_memorization_risk" ->
      """WITH ws AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest([array_to_string(ws[i:i+4], ' ')
        |              FOR i IN range(1, len(ws) - 4 + 1)]) AS g
        |    FROM ws WHERE len(ws) >= 5)),
        |c AS (
        |  SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS docs FROM g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  (CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000) // count(*) AS risk_permille
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // RAKE replay: same phrase-id window, same integer deg/freq stats,
    // same position-ordered score fold seeded at 0.0
    "kw01_rake_keywords" ->
      """WITH t AS (
        |  SELECT doc_id, w, i,
        |    CASE WHEN w IN ('the','a','value','data') THEN 1 ELSE 0 END AS st
        |  FROM (SELECT doc_id, unnest(ws) AS w,
        |          generate_subscripts(ws, 1) AS i
        |        FROM (SELECT doc_id,
        |                list_filter(string_split_regex(text, '\s+'),
        |                            x -> x <> '') AS ws
        |              FROM documents))),
        |p AS (
        |  SELECT doc_id, i, w, st,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY i) AS pid
        |  FROM t),
        |ph AS (
        |  SELECT doc_id, pid, list(w ORDER BY i) AS words, count(*) AS ln
        |  FROM p WHERE st = 0 GROUP BY doc_id, pid
        |  HAVING count(*) <= 4),
        |wstat AS (
        |  SELECT w, count(*) AS freq, CAST(sum(ln) AS BIGINT) AS deg
        |  FROM (SELECT unnest(words) AS w, ln FROM ph) GROUP BY w),
        |terms AS (
        |  SELECT e.doc_id, e.pid, e.wi, e.w,
        |    CAST(s.deg AS DOUBLE) / CAST(s.freq AS DOUBLE) AS sc
        |  FROM (SELECT doc_id, pid, unnest(words) AS w,
        |          generate_subscripts(words, 1) AS wi FROM ph) e
        |  JOIN wstat s ON s.w = e.w),
        |sc AS (
        |  SELECT doc_id, pid, string_agg(w, ' ' ORDER BY wi) AS phrase,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(sc ORDER BY wi)), (a, x) -> a + x) AS score
        |  FROM terms GROUP BY doc_id, pid),
        |r AS (
        |  SELECT doc_id, pid, phrase, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, phrase, pid) AS INTEGER) AS rank
        |  FROM sc)
        |SELECT doc_id, rank, phrase, round(score, 6) AS score_r
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // drop-provenance replay: ts08's entropy chain + row-local CASE in
    // the same stage order
    "dp01_drop_provenance" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ''), c -> c <> '')) AS c
        |  FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        |agg AS (
        |  SELECT doc_id, list(k ORDER BY c) AS ks, sum(k) AS n
        |  FROM cnt GROUP BY doc_id),
        |e AS (
        |  SELECT d.doc_id,
        |    round(coalesce(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [(k / n) * ln(k / n) FOR k IN ks]), (x, y) -> x + y), 0.0), 6)
        |      AS ent
        |  FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id),
        |lbl AS (
        |  SELECT d.doc_id,
        |    CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 < 30
        |           THEN 'short'
        |         WHEN text LIKE '%big vector%' OR text LIKE '%slow filter%'
        |           OR text LIKE '%merge batch%' THEN 'blocklist'
        |         WHEN e.ent < 2.78 THEN 'low_entropy' END AS drop_reason
        |  FROM documents d JOIN e ON e.doc_id = d.doc_id)
        |SELECT doc_id, drop_reason IS NULL AS kept, drop_reason
        |FROM lbl ORDER BY doc_id""".stripMargin,

    // char-entropy replay: per-char counts, fold ordered by char, k/n as
    // double division — the sort_array struct order on the Spark side
    // ts09 replay: regexp run counts (RE2 and Java agree on these simple
    // classes), same milli fixed-point Flesch with floor division
    "ts09_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    206835 - (1015 * n_words) // n_sentences
        |      - (84600 * n_syllables) // n_words
        |  END AS flesch_milli
        |FROM m ORDER BY doc_id""".stripMargin,

    "ts08_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ''), c -> c <> '')) AS c
        |  FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        |agg AS (
        |  SELECT doc_id, list(k ORDER BY c) AS ks, sum(k) AS n
        |  FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id,
        |  round(coalesce(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    [(k / n) * ln(k / n) FOR k IN ks]), (x, y) -> x + y), 0.0), 6)
        |    AS entropy_r
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // HTML-strip replay: same shell, same RE2-subset patterns with the
    // 'g' flag, same entity replace chain (&amp; last), same collapse
    "hx01_html_strip" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style></head>' ||
        |    '<body class="m"><p>&quot;' || text ||
        |    '&quot; &amp;amp; <b>tail</b><script type="text/js">' ||
        |    'var x = "<p>";</script></body></html>' AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(t,
        |  '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t
        |  FROM w),
        |s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t
        |  FROM s1),
        |s3 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(t,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&amp;', '&') AS t
        |  FROM s2)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text
        |FROM s3 ORDER BY doc_id""".stripMargin,

    // exact-contamination replay: benchmark snippet list as a scalar,
    // per-doc contains count
    "dc02_exact_contamination" ->
      """WITH sn AS (
        |  SELECT DISTINCT substring(text, 10, 40) AS s FROM documents
        |  WHERE doc_id % 100 = 7 AND length(substring(text, 10, 40)) = 40),
        |snl AS (SELECT coalesce(list(s), []) AS ss FROM sn)
        |SELECT doc_id,
        |  CAST(len(list_filter(ss, x -> contains(text, x))) AS BIGINT)
        |    AS n_hits,
        |  len(list_filter(ss, x -> contains(text, x))) > 0 AS contaminated
        |FROM documents, snl WHERE doc_id % 100 <> 7
        |ORDER BY doc_id""".stripMargin,

    // blocklist replay: the literal lowercase phrase list, matched terms
    // in list order, first match or ''
    "bf01_blocklist_filter" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_filter(['big vector', 'slow filter', 'merge batch'],
        |      t -> contains(lower(text), t)) AS ms
        |  FROM documents)
        |SELECT doc_id, CAST(len(ms) AS INT) AS n_matches,
        |  coalesce(ms[1], '') AS first_match,
        |  (len(ms) = 0) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // shard-manifest replay: sh01's splitmix64 shard + per-shard rank,
    // rolled up with ts02's (len+3)//4 BPE-proxy token count
    "sh02_shard_manifest" ->
      """WITH m AS (
        |  SELECT doc_id, text, xor(p2, p2 >> 31) AS h FROM (
        |    SELECT doc_id, text,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT doc_id, text,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT doc_id, text, CAST(doc_id AS UHUGEINT) AS p0
        |            FROM documents))))
        |SELECT CAST(h % 8 AS INT) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(list_sum(list_transform(
        |    list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
        |    w -> (length(w) + 3) // 4))) AS BIGINT) AS total_tokens,
        |  CAST(count(*) - 1 AS BIGINT) AS max_ord
        |FROM m GROUP BY 1 ORDER BY shard""".stripMargin,

    // centroid-confusion replay: floor-quantized integer sums per
    // (label, dim); distance = ascending-d double accumulation of
    // (q - s/n)^2 (the ann02 bit-portability recipe); argmin ties to the
    // smaller label
    "em01_centroid_confusion" ->
      """WITH ce AS (
        |  SELECT label, i - 1 AS pos,
        |    CAST(sum(floor(CAST(embedding[i] AS DOUBLE) * 1000)) AS BIGINT)
        |      AS s,
        |    count(*) AS n
        |  FROM embeddings, range(1, 65) r(i)
        |  GROUP BY label, i),
        |ca AS (
        |  SELECT label AS c_label, max(n) AS n, list(s ORDER BY pos) AS cs
        |  FROM ce GROUP BY label),
        |qv AS (
        |  SELECT vec_id, label,
        |    [floor(CAST(e AS DOUBLE) * 1000) FOR e IN embedding] AS qs
        |  FROM embeddings),
        |d AS (
        |  SELECT qv.vec_id, qv.label, ca.c_label,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [(qs[i] - cs[i] / n) * (qs[i] - cs[i] / n)
        |       FOR i IN range(1, 65)]),
        |      (a, b) -> a + b) AS dist
        |  FROM qv, ca),
        |a AS (
        |  SELECT vec_id, label, c_label,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label)
        |      AS rk
        |  FROM d)
        |SELECT label, c_label AS assigned, count(*) AS n_vecs
        |FROM a WHERE rk = 1 GROUP BY label, c_label
        |ORDER BY label, assigned""".stripMargin,

    // hash-sample replay: seed-1 stream = id + golden gamma (unsigned),
    // shifted mix64 against the closed-form threshold floor(0.1 * 2^63)
    "ss01_hash_sample" ->
      """WITH m AS (
        |  SELECT doc_id, source, xor(p2, p2 >> 31) >> 1 AS h FROM (
        |    SELECT doc_id, source,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT doc_id, source,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT doc_id, source,
        |              CAST(doc_id AS UHUGEINT) +
        |                CAST(11400714819323198485 AS UHUGEINT) AS p0
        |            FROM documents))))
        |SELECT doc_id, source FROM m
        |WHERE h < CAST(922337203685477632 AS UHUGEINT)
        |ORDER BY doc_id""".stripMargin,

    // group-sample replay: seedless mix64 stream, signed reinterpretation
    // for rank order (pp02's pattern), per-source rank <= k
    "gs01_group_sample" ->
      """WITH m AS (
        |  SELECT doc_id, source, xor(p2, p2 >> 31) AS h FROM (
        |    SELECT doc_id, source,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT doc_id, source,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT doc_id, source,
        |              CAST(doc_id AS UHUGEINT) AS p0
        |            FROM documents)))),
        |r AS (
        |  -- signed rank order == unsigned order of h with the sign bit
        |  -- flipped (the sh01 trick), no subtraction to overflow
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY xor(h, CAST(9223372036854775808 AS UHUGEINT)),
        |        doc_id) AS rk
        |  FROM m)
        |SELECT doc_id, source FROM r WHERE rk <= 20
        |ORDER BY doc_id""".stripMargin,

    // stratified replay: seed-0 stream (p0 = doc_id), per-source CASE
    // thresholds — every fraction binary-exact so floor(f * 2^63) matches
    // the Scala constant bit for bit
    "st01_stratified_sample" ->
      """WITH m AS (
        |  SELECT doc_id, source, xor(p2, p2 >> 31) >> 1 AS h FROM (
        |    SELECT doc_id, source,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT doc_id, source,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT doc_id, source,
        |              CAST(doc_id AS UHUGEINT) AS p0
        |            FROM documents))))
        |SELECT doc_id, source FROM m
        |WHERE h < CAST(CASE source
        |    WHEN 'src0' THEN 4611686018427387904
        |    WHEN 'src1' THEN 6917529027641081856
        |    WHEN 'src2' THEN 0
        |    ELSE 2305843009213693952 END AS UHUGEINT)
        |ORDER BY doc_id""".stripMargin,

    // FIM replay: two splitmix64 streams (second stepped by the golden
    // gamma), each shifted right once so the arbitrary modulus means the
    // same thing in unsigned arithmetic as Spark's signed pmod; cuts
    // ordered, equal draws -> empty middle, short docs pass whole
    "fm01_fim_splits" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ts
        |  FROM documents),
        |mx AS (
        |  SELECT doc_id, ts, len(ts) AS n,
        |    xor(p2, p2 >> 31) >> 1 AS h1,
        |    xor(q2, q2 >> 31) >> 1 AS h2
        |  FROM (
        |    SELECT doc_id, ts,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2,
        |      (xor(q1, q1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS q2
        |    FROM (
        |      SELECT doc_id, ts,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1,
        |        (xor(q0, q0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS q1
        |      FROM (
        |        SELECT doc_id, ts, CAST(doc_id AS UHUGEINT) AS p0,
        |          CAST(doc_id AS UHUGEINT) +
        |            CAST(11400714819323198485 AS UHUGEINT) AS q0
        |        FROM toks))) x),
        |cut AS (
        |  -- the modulus must be UHUGEINT: DuckDB resolves UHUGEINT % BIGINT
        |  -- through DOUBLE, which silently loses low bits of the hash
        |  SELECT doc_id, ts, n,
        |    CASE WHEN n >= 4 THEN least(
        |      CAST(h1 % CAST(greatest(n - 1, 1) AS UHUGEINT) AS BIGINT) + 1,
        |      CAST(h2 % CAST(greatest(n - 1, 1) AS UHUGEINT) AS BIGINT) + 1)
        |    END AS lo,
        |    CASE WHEN n >= 4 THEN greatest(
        |      CAST(h1 % CAST(greatest(n - 1, 1) AS UHUGEINT) AS BIGINT) + 1,
        |      CAST(h2 % CAST(greatest(n - 1, 1) AS UHUGEINT) AS BIGINT) + 1)
        |    END AS hi
        |  FROM mx)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CASE WHEN lo IS NULL THEN array_to_string(ts, ' ')
        |       ELSE array_to_string(ts[1:lo], ' ') END AS prefix,
        |  CASE WHEN lo IS NULL THEN ''
        |       ELSE coalesce(array_to_string(ts[lo+1:hi], ' '), '') END AS middle,
        |  CASE WHEN lo IS NULL THEN ''
        |       ELSE coalesce(array_to_string(ts[hi+1:n], ' '), '') END AS suffix
        |FROM cut ORDER BY doc_id""".stripMargin,

    // dataset-card replay: ts02's (len+3)//4 token formula per source
    "ds01_dataset_card" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(list_sum(list_transform(
        |    list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
        |    w -> (length(w) + 3) // 4))) AS BIGINT) AS total_tokens,
        |  count(DISTINCT lang) AS n_langs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // priority-dedup replay: same constructed pool, election by
    // (priority, doc_id) per distinct text (Spark windows on md5(text) —
    // identical grouping)
    "dd09_priority_dedup" ->
      """WITH pool AS (
        |  SELECT doc_id, text, 1 AS priority FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 20000, text, 0 FROM documents WHERE doc_id < 30),
        |r AS (
        |  SELECT doc_id, priority,
        |    row_number() OVER (PARTITION BY text ORDER BY priority, doc_id)
        |      AS rn
        |  FROM pool)
        |SELECT doc_id, priority FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Gopher-rule replay: every metric in the shared subset — counts via
    // length-difference replace, word predicates via list_filter, the
    // stopword IN list verbatim
    "gq01_gopher_rules" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(ws) AS n_words,
        |    list_sum(list_transform(ws, x -> length(x))) AS sum_len,
        |    (length(text) - length(replace(text, '#', ''))) +
        |      (length(text) - length(replace(text, '...', ''))) / 3 AS n_sym,
        |    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |    len(list_filter(ws, x -> lower(x) IN
        |      ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) AS n_stop,
        |    len(ls) AS n_lines,
        |    len(list_filter(ls, x -> left(ltrim(x), 1) IN ('-', '*', '•')))
        |      AS n_bullet,
        |    len(list_filter(ls, x -> rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…'))
        |      AS n_ell
        |  FROM w),
        |r AS (
        |  SELECT doc_id,
        |    CAST(n_words AS INT) AS n_words,
        |    round(CAST(sum_len AS DOUBLE) / n_words, 5) AS mean_word_len,
        |    (n_words BETWEEN 50 AND 100000) AS r_word_count,
        |    (CAST(sum_len AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0)
        |      AS r_mean_word_len,
        |    (CAST(n_sym AS DOUBLE) / n_words < 0.1) AS r_symbol_ratio,
        |    (CAST(n_alpha AS DOUBLE) / n_words >= 0.8) AS r_alpha_words,
        |    (n_stop >= 2) AS r_stopwords,
        |    (CAST(n_bullet AS DOUBLE) / n_lines <= 0.9) AS r_bullets,
        |    (CAST(n_ell AS DOUBLE) / n_lines <= 0.3) AS r_ellipsis
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, r_word_count, r_mean_word_len,
        |  r_symbol_ratio, r_alpha_words, r_stopwords, r_bullets, r_ellipsis,
        |  (r_word_count AND r_mean_word_len AND r_symbol_ratio AND
        |   r_alpha_words AND r_stopwords AND r_bullets AND r_ellipsis) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // z-order replay: the same 16-bit morton interleave, generated
    // term-by-term so both engines evaluate the identical bit program
    "zo01_zorder_layout" -> {
      val z = (0 until 16).map(i =>
        s"(((ck >> $i) & 1) << ${2 * i}) | (((dy >> $i) & 1) << ${2 * i + 1})")
        .mkString(" |\n        ")
      s"""WITH b AS (
        |  SELECT o_custkey AS ck,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dy
        |  FROM orders),
        |z AS (
        |  SELECT ck, dy, ($z) AS zv
        |  FROM b)
        |SELECT zv >> 16 AS z_bucket, count(*) AS n_orders,
        |  min(ck) AS min_cust, max(ck) AS max_cust,
        |  CAST(min(dy) AS INT) AS min_day, CAST(max(dy) AS INT) AS max_day
        |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
    },

    // zo02 replay: the IDENTICAL staged Hilbert walk — one CTE per level
    // (the rotation reads both coords, so each level is its own stage,
    // exactly mirroring the Spark withColumn chain), all-integer
    "zo02_hilbert_layout" -> {
      val levels = (15 to 0 by -1).zipWithIndex.map { case (i, k) =>
        val s = 1L << i
        val prev = if (k == 0) "b" else s"h${k - 1}"
        val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
        val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
        s"""h$k AS (
           |  SELECT ck, dy,
           |    d + ${s * s} * xor(3 * $rx, $ry) AS d,
           |    CASE WHEN $ry = 0 THEN
           |      CASE WHEN $rx = 1 THEN ${s - 1} - y ELSE y END
           |    ELSE x END AS x,
           |    CASE WHEN $ry = 0 THEN
           |      CASE WHEN $rx = 1 THEN ${s - 1} - x ELSE x END
           |    ELSE y END AS y
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (
        |  SELECT o_custkey AS ck,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      AS dy,
        |    o_custkey & 65535 AS x,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      & 65535 AS y,
        |    CAST(0 AS BIGINT) AS d
        |  FROM orders),
        |$levels
        |SELECT d >> 16 AS h_bucket, count(*) AS n_orders,
        |  min(ck) AS min_cust, max(ck) AS max_cust,
        |  CAST(min(dy) AS INT) AS min_day, CAST(max(dy) AS INT) AS max_day
        |FROM h15 GROUP BY 1 ORDER BY h_bucket""".stripMargin
    },

    // zone-map replay: same morton program as zo01 for the z-bucket
    // blocks, plus the orderkey-range baseline; min/max/count/conditional
    // sum and the boolean skipping decision are all integer/boolean
    "zm01_zonemap_skipping" -> {
      val z = (0 until 16).map(i =>
        s"(((ck >> $i) & 1) << ${2 * i}) | (((dy >> $i) & 1) << ${2 * i + 1})")
        .mkString(" |\n        ")
      s"""WITH b AS (
        |  SELECT o_orderkey, o_custkey AS ck,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dy
        |  FROM orders),
        |z AS (SELECT o_orderkey, ck, dy, ($z) AS zv FROM b),
        |blk AS (
        |  SELECT 'zorder' AS layout, zv >> 16 AS block_id, ck, dy FROM z
        |  UNION ALL
        |  SELECT 'linear', o_orderkey // 2048, ck, dy FROM z)
        |SELECT layout, block_id, count(*) AS n_rows,
        |  min(ck) AS min_o_custkey, max(ck) AS max_o_custkey,
        |  CAST(min(dy) AS BIGINT) AS min_day, CAST(max(dy) AS BIGINT) AS max_day,
        |  CAST(sum(CASE WHEN dy BETWEEN 1400 AND 1429 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matching,
        |  (max(dy) >= 1400 AND min(dy) <= 1429) AS scanned
        |FROM blk GROUP BY layout, block_id
        |ORDER BY layout, block_id""".stripMargin
    },

    // cow01 replay: a copy-on-write delete equals the logical DELETE —
    // the rollup over the mutated table is the rollup over the filter
    "cow01_delete_rewrite" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE NOT (o_orderkey < 2000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // cow02 replay: MERGE end state = base with matched keys replaced
    // (+1000 balances) plus the shifted-key inserts
    "cow02_merge_upsert" ->
      """SELECT c_custkey, CAST(acctbal AS DOUBLE) AS acctbal FROM (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 100 = 0
        |      THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 1000
        |           AS DECIMAL(18,2))
        |      ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS acctbal
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 10000000,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal
        |  FROM customer WHERE c_custkey % 50 = 0)
        |ORDER BY c_custkey""".stripMargin,

    // cmp01 replay: compaction must be a pure physical rewrite — the
    // status rollup over the compacted table equals the rollup over the
    // original orders, byte-for-byte (exact DECIMAL sum → one cast)
    "cmp01_compact_small_files" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // hard negatives: the ann01 brute-force replay with the wrong-label
    // join predicate — ordering by cosine only (rank gates, floats don't)
    "hn01_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT query_id, query_label, neighbor_id, neighbor_label, rank
        |FROM (
        |  SELECT q.vec_id AS query_id, q.label AS query_label,
        |         c.vec_id AS neighbor_id, c.label AS neighbor_label,
        |         CAST(row_number() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
        |         AS INTEGER) AS rank
        |  FROM e q JOIN e c
        |    ON q.vec_id <> c.vec_id AND q.label <> c.label
        |  WHERE q.vec_id < 50) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Full LSH replay: per (table, bit-plane) one mixed long (splitmix64 of
    // seed + t*1000003 + b), plane component d = ±1 from bit (d mod 64),
    // dot accumulated ascending-d in DOUBLE (bit-identical to the JVM
    // kernel's float-widening loop), bucket = packed sign bits, candidate
    // equi-join on (table, bucket), exact cosine rerank (same recipe the
    // ann01 oracle uses), top-3 with neighbor_id tie-break.
    "ann02_knn_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings),
        |ph AS (
        |  SELECT t, b, p3 AS h FROM (
        |    SELECT t, b,
        |      (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |    FROM (SELECT t, b, CAST(42 + t * 1000003 + b AS UHUGEINT) AS p0
        |          FROM range(0, 16) tt(t), range(0, 4) bb(b))) q1,
        |  LATERAL (SELECT (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |                  % CAST(18446744073709551616 AS UHUGEINT) AS p2) q2,
        |  LATERAL (SELECT xor(p2, p2 >> 31) AS p3) q3),
        |dots AS (
        |  SELECT v.vec_id, p.t, p.b,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CASE WHEN ((p.h >> CAST((d - 1) % 64 AS UHUGEINT)) & 1) = 1
        |            THEN CAST(v.embedding[d] AS DOUBLE)
        |            ELSE -CAST(v.embedding[d] AS DOUBLE) END
        |       FOR d IN range(1, len(v.embedding) + 1)]),
        |      (a, x) -> a + x) AS dot
        |  FROM e v, ph p),
        |sig AS (
        |  SELECT vec_id, t,
        |    CAST(sum(CASE WHEN dot > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM sig q JOIN sig c ON q.t = c.t AND q.bucket = c.bucket
        |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ed AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM e)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT cd.query_id, cd.neighbor_id,
        |    CAST(row_number() OVER (
        |      PARTITION BY cd.query_id
        |      ORDER BY list_cosine_similarity(qe.v, ce.v) DESC, cd.neighbor_id)
        |    AS INTEGER) AS rank
        |  FROM cand cd
        |  JOIN ed qe ON qe.vec_id = cd.query_id
        |  JOIN ed ce ON ce.vec_id = cd.neighbor_id) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // LSH near-dup replay: same splitmix64 plane recipe as ann02 (seed 7,
    // 16 tables x autoBits(n) bits — the `bits` CTE recomputes Spark's
    // INTEGER-EXACT sizing from count(*): bitLength(ceil(n/64) - 1)
    // clamped [2,30], via length(bin(m-1)); round 19 dropped the
    // ln()/ln(2) float replay, the suite's one control-flow transcendental
    // (a 1-ulp libm difference at n = 64·2^j would have diverged the
    // gate) — so the replay self-sizes with the table and stays exact by
    // construction, candidates = bucket-colliding id_a < id_b pairs,
    // score = the cosine expression's exact formula (ascending-order
    // double sums, dot / (sqrt(nx) * sqrt(ny)))
    "ann05_neardup_lsh" ->
      """WITH bits AS (
        |  SELECT least(30, greatest(2,
        |    CASE WHEN m <= 1 THEN 0
        |         ELSE CAST(length(bin(m - 1)) AS INTEGER) END)) AS nb
        |  FROM (SELECT greatest(1, (count(*) + 63) // 64) AS m
        |        FROM embeddings)),
        |e AS (
        |  SELECT vec_id, embedding FROM embeddings),
        |ph AS (
        |  SELECT t, b, p3 AS h FROM (
        |    SELECT t, b,
        |      (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |    FROM (SELECT t, b, CAST(7 + t * 1000003 + b AS UHUGEINT) AS p0
        |          FROM range(0, 16) tt(t), range(0, 30) bb(b), bits
        |          WHERE bb.b < bits.nb)) q1,
        |  LATERAL (SELECT (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |                  % CAST(18446744073709551616 AS UHUGEINT) AS p2) q2,
        |  LATERAL (SELECT xor(p2, p2 >> 31) AS p3) q3),
        |dots AS (
        |  SELECT v.vec_id, p.t, p.b,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CASE WHEN ((p.h >> CAST((d - 1) % 64 AS UHUGEINT)) & 1) = 1
        |            THEN CAST(v.embedding[d] AS DOUBLE)
        |            ELSE -CAST(v.embedding[d] AS DOUBLE) END
        |       FOR d IN range(1, len(v.embedding) + 1)]),
        |      (a, x) -> a + x) AS dot
        |  FROM e v, ph p),
        |sig AS (
        |  SELECT vec_id, t,
        |    CAST(sum(CASE WHEN dot > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket
        |  WHERE a.vec_id < b.vec_id),
        |ed AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]),
        |      (a, b) -> a + b)) AS nrm
        |  FROM e),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [ea.v[i] * eb.v[i] FOR i IN range(1, len(ea.v) + 1)]),
        |      (a, x) -> a + x) / (ea.nrm * eb.nrm) AS cosine
        |  FROM cand c
        |  JOIN ed ea ON ea.vec_id = c.id_a
        |  JOIN ed eb ON eb.vec_id = c.id_b)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine_r
        |FROM scored WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin,

    // ln01 replay: all-pairs cosine ranks, top-5 votes, majority with
    // (count desc, label) tie rule
    "ln01_knn_disagreement" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |knn AS (
        |  SELECT q.vec_id AS qid, c.label AS nl,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id),
        |votes AS (
        |  SELECT qid, nl, count(*) AS n FROM knn WHERE rk <= 5 GROUP BY 1, 2),
        |top AS (
        |  SELECT qid, nl, n, row_number() OVER
        |    (PARTITION BY qid ORDER BY n DESC, nl) AS vr
        |  FROM votes)
        |SELECT e.vec_id, e.label AS own_label, t.nl AS pred_label,
        |  CAST(t.n AS BIGINT) AS n_votes, e.label <> t.nl AS disagree
        |FROM e JOIN top t ON t.qid = e.vec_id AND t.vr = 1
        |ORDER BY e.vec_id""".stripMargin,

    // wsp01 replay: the ss01 splitmix chain (no seed step), 63-bit shift,
    // integer floor-division priority, per-lang top-20 by (priority, id)
    "wsp01_weighted_sample" ->
      """WITH m AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(xor(p2, p2 >> 31) >> 1 AS BIGINT) AS h FROM (
        |    SELECT doc_id, lang, n_chars,
        |      (xor(p1, p1 >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |        % CAST(18446744073709551616 AS UHUGEINT) AS p2
        |    FROM (
        |      SELECT doc_id, lang, n_chars,
        |        (xor(p0, p0 >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |          % CAST(18446744073709551616 AS UHUGEINT) AS p1
        |      FROM (SELECT doc_id, lang, n_chars,
        |              CAST(doc_id AS UHUGEINT) AS p0
        |            FROM documents))) a),
        |p AS (
        |  SELECT doc_id, lang, n_chars, h // n_chars AS priority,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY h // n_chars, doc_id) AS rk
        |  FROM m)
        |SELECT doc_id, lang, n_chars, priority FROM p
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,

    "ann01_knn_bruteforce" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
        |         AS INTEGER) AS rank
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 50) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ts01_doc_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS INTEGER) AS text_len,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS n_ws_tokens,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ts02_token_budget" ->
      """SELECT doc_id,
        | CAST(list_sum(list_transform(
        |   list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
        |   w -> (length(w) + 3) // 4)) AS INTEGER) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pp01_training_mix" -> BudgetMixSql,

    // sharded running-total path, identical output to pp01 by contract
    "pp04_training_mix_sharded" -> BudgetMixSql,

    "ts03_lang_rollup" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | count(DISTINCT source) AS n_sources,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // exact near-dup path mirrored with the JVM's float arithmetic: unit
    // vectors are normalized in float32 (double norm, per-element cast back
    // to REAL), dot products accumulate in double in element order —
    // bit-identical to VectorKernels.unitF/dotF
    "ann03_embedding_neardup" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]),
        |      (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |u AS (
        |  SELECT vec_id,
        |    CASE WHEN nrm = 0 THEN embedding
        |         ELSE [CAST(x / nrm AS REAL) FOR x IN embedding] END AS uv
        |  FROM n),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CAST(a.uv[i] AS DOUBLE) * CAST(b.uv[i] AS DOUBLE)
        |       FOR i IN range(1, len(a.uv) + 1)]),
        |      (x, y) -> x + y) AS cosine
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine_r
        |FROM pairs WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin,

    // int8 quantization replay: float->double widening is exact, both
    // engines round ties away from zero, and every output but `scale` is
    // integer arithmetic
    "qz01_int8_quantize" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS scale,
        |    embedding
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale = 0 THEN [0 FOR x IN embedding]
        |         ELSE [CAST(round(CAST(x AS DOUBLE) * 127.0 / scale)
        |                    AS INTEGER) FOR x IN embedding] END AS qv
        |  FROM s)
        |SELECT vec_id, CAST(len(qv) AS INTEGER) AS n_dims, scale,
        |  CAST(list_sum([CAST(qv[i] AS BIGINT) * i
        |                 FOR i IN range(1, len(qv) + 1)]) AS BIGINT)
        |    AS q_checksum,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_max([abs(x) FOR x IN qv]) AS INTEGER) AS q_max_abs
        |FROM q ORDER BY vec_id""".stripMargin,

    "ann06_knn_int8" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS scale,
        |    embedding
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0 THEN [0 FOR x IN embedding]
        |         ELSE [CAST(round(CAST(x AS DOUBLE) * 127.0 / scale)
        |                    AS INTEGER) FOR x IN embedding] END AS qv
        |  FROM s),
        |scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(list_sum([CAST(a.qv[i] AS BIGINT) * b.qv[i]
        |                   FOR i IN range(1, len(a.qv) + 1)]) AS BIGINT)
        |      AS score
        |  FROM q a JOIN q b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 50)
        |SELECT query_id, neighbor_id, rank, score FROM (
        |  SELECT query_id, neighbor_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // fp01 replay: the greedy chain unrolled — same int8 codes as ann06,
    // each round selects (max dist, min id) among unchosen and folds a
    // least() into every point's distance; MATERIALIZED against the
    // 3^8-style inline blowup (the gr05 lesson)
    "fp01_farthest_points" -> {
      def dist(a: String, b: String) =
        s"CAST(list_sum([CAST($a[i] - $b[i] AS BIGINT) * ($a[i] - $b[i]) " +
          s"FOR i IN range(1, len($a) + 1)]) AS BIGINT)"
      val rounds = (2 to 8).map { r =>
        val excl = (1 until r).map(j => s"SELECT vec_id FROM c$j")
          .mkString(" UNION ALL ")
        s"""c$r AS MATERIALIZED (
           |  SELECT vec_id, qv, m FROM d${r - 1}
           |  WHERE vec_id NOT IN ($excl)
           |  ORDER BY m DESC, vec_id LIMIT 1),
           |d$r AS MATERIALIZED (
           |  SELECT d.vec_id, d.qv, least(d.m, ${dist("d.qv", "c.qv")}) AS m
           |  FROM d${r - 1} d, c$r c),""".stripMargin
      }.mkString("\n")
      val sel = (2 to 8).map(r =>
        s"UNION ALL SELECT $r AS sel_rank, vec_id, m AS dist_to_set FROM c$r")
        .mkString("\n")
      s"""WITH s AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS scale,
         |    embedding
         |  FROM embeddings),
         |q AS MATERIALIZED (
         |  SELECT vec_id, CASE WHEN scale = 0 THEN [0 FOR x IN embedding]
         |    ELSE [CAST(round(CAST(x AS DOUBLE) * 127.0 / scale) AS INTEGER)
         |          FOR x IN embedding] END AS qv
         |  FROM s),
         |c1 AS MATERIALIZED (
         |  SELECT vec_id, qv FROM q
         |  WHERE vec_id = (SELECT min(vec_id) FROM q)),
         |d1 AS MATERIALIZED (
         |  SELECT q.vec_id, q.qv, ${dist("q.qv", "c.qv")} AS m
         |  FROM q, c1 c),
         |$rounds
         |fin AS (
         |  SELECT 1 AS sel_rank, vec_id, CAST(NULL AS BIGINT) AS dist_to_set
         |  FROM c1
         |$sel)
         |SELECT CAST(sel_rank AS INTEGER) AS sel_rank, vec_id, dist_to_set
         |FROM fin ORDER BY sel_rank""".stripMargin
    },

    // mm07 replay: PNG is lossless and the synthetic pixels follow an
    // integer formula of (id, x, y), so the aHash replays bit-for-bit —
    // the threshold compare is the operator's own cross-multiplied
    // rational (cell_sum * total_px >= total_sum * cell_px), pure
    // integers, so even exact mean ties agree. Hamming distance is then
    // a per-cell bit-disagreement count over each id pair.
    "mm07_image_neardup" ->
      """WITH ids AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         CAST((doc_id % 4) * 16 + 16 AS BIGINT) AS w,
        |         CAST((doc_id % 3) * 16 + 16 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 100),
        |px AS (
        |  SELECT i.id,
        |         (x.x * 255) // (i.w - 1) + (y.y * 255) // (i.h - 1)
        |           + (i.id * 37 + x.x + y.y) % 256 AS lum,
        |         ((y.y * 8) // i.h) * 8 + (x.x * 8) // i.w AS cell,
        |         i.w * i.h AS tcnt
        |  FROM ids i
        |  JOIN range(0, 64) x(x) ON x.x < i.w
        |  JOIN range(0, 48) y(y) ON y.y < i.h),
        |cells AS (
        |  SELECT id, cell, MAX(tcnt) AS tcnt,
        |         SUM(lum) AS csum, COUNT(*) AS cnt
        |  FROM px GROUP BY id, cell),
        |tot AS (SELECT id, SUM(csum) AS tsum FROM cells GROUP BY id),
        |bits AS (
        |  SELECT c.id, c.cell,
        |         CASE WHEN c.csum * c.tcnt >= t.tsum * c.cnt
        |              THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t USING (id)),
        |ham AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |         SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hm
        |  FROM bits a JOIN bits b ON a.cell = b.cell AND a.id < b.id
        |  GROUP BY a.id, b.id)
        |SELECT id_a, id_b, CAST(hm AS INTEGER) AS hamming
        |FROM ham WHERE hm <= 2 ORDER BY id_a, id_b""".stripMargin,

    // mm08 replay: WAV is lossless 16-bit PCM of integer samples, and
    // the fingerprint's lag sums are exact dyadic rationals in double
    // (products of 16-bit samples / 2^30, partial sums < 2^41), so
    // bit = sign of the INTEGER sum of sample products — engine-exact.
    // The only cross-engine float is sin(); measured margins are ~1e-4
    // sample-rounding slack and >=8e8 absolute sum slack, 8+ orders
    // above any libm-vs-fdlibm ulp drift.
    "mm08_audio_neardup" ->
      """WITH ids AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         CAST(800 + (doc_id % 5) * 400 AS BIGINT) AS n,
        |         220.0 + (doc_id % 16) * 55.0 AS freq
        |  FROM documents WHERE doc_id < 64),
        |pcm AS (
        |  SELECT i.id, i.n, s.s,
        |         CAST(FLOOR((SIN(2 * PI() * i.freq * (s.s / 8000.0)) * 0.6
        |                   + SIN(2 * PI() * i.freq * 2 * (s.s / 8000.0)) * 0.25)
        |                    * 0.9 * 32767 + 0.5) AS BIGINT) AS v
        |  FROM ids i JOIN range(0, 2400) s(s) ON s.s < i.n),
        |ac AS (
        |  SELECT a.id, l.lag, SUM(a.v * b.v) AS acsum
        |  FROM pcm a
        |  JOIN range(1, 65) l(lag) ON TRUE
        |  JOIN pcm b ON b.id = a.id AND b.s = a.s + l.lag
        |  GROUP BY a.id, l.lag),
        |bits AS (
        |  SELECT id, lag, CASE WHEN acsum >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM ac),
        |ham AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |         SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hm
        |  FROM bits a JOIN bits b ON a.lag = b.lag AND a.id < b.id
        |  GROUP BY a.id, b.id)
        |SELECT id_a, id_b, CAST(hm AS INTEGER) AS hamming
        |FROM ham WHERE hm <= 4 ORDER BY id_a, id_b""".stripMargin,

    // the multimodal projections surface only deterministic metadata (the
    // stub decode's float features are deliberately excluded), so the
    // plumbing is hash-gated end to end
    "mm01_media_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'image/png' AS mime,
        | CAST((doc_id % 4) * 16 + 16 AS INTEGER) AS width, 16 AS feat_dim
        |FROM documents ORDER BY media_id""".stripMargin,

    // resize replay: in-dims from the synthetic formulas, out-dims fixed,
    // every row must have re-encoded successfully
    "mm05_image_resize" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        | CAST((doc_id % 4) * 16 + 16 AS INTEGER) AS in_width,
        | CAST((doc_id % 3) * 16 + 16 AS INTEGER) AS in_height,
        | 16 AS out_width, 16 AS out_height, true AS encoded
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm02_frame_samples" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(i AS INTEGER) AS frame_index
        |FROM documents, range(0, 4) t(i)
        |WHERE doc_id < 100 ORDER BY media_id, frame_index""".stripMargin,

    // video demux gate: the demuxer's recovered frame count must replay
    // the writer's 4 + id%3 formula through the real RIFF container
    "mm04_video_frames" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(i AS INTEGER) AS frame_index,
        | CAST(4 + doc_id % 3 AS INTEGER) AS n_frames_total,
        | 4 AS feat_dim, TRUE AS decoded
        |FROM documents, range(0, 4) t(i)
        |WHERE doc_id < 100 ORDER BY media_id, frame_index""".stripMargin,

    // mm06 replay: total = 4 + id%3; sampled frame k reads source frame
    // (k*total)//4; decoded gray must equal 16 + (id*29 + src*31) % 224 —
    // a full pixel-exact decode gate, possible because GIF is lossless
    "mm06_gif_frames" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(k AS INTEGER) AS frame_index,
        |  CAST(4 + doc_id % 3 AS INTEGER) AS n_frames_total,
        |  CAST(16 + (doc_id * 29 + ((k * (4 + doc_id % 3)) // 4) * 31) % 224
        |       AS INTEGER) AS gray
        |FROM documents, range(0, 4) t(k)
        |WHERE doc_id < 100 ORDER BY media_id, frame_index""".stripMargin,

    // audio decode gate: metadata replays the synthesis formulas; feat_dim
    // + decoded prove every WAV actually decoded to an 8-dim vector (size()
    // of a failed/null decode would be NULL, failing the hash)
    "mm03_audio_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'audio/wav' AS mime,
        | CAST((800 + (doc_id % 5) * 400) * 1000 / 8000 AS BIGINT) AS duration_ms,
        | 8 AS feat_dim, TRUE AS decoded
        |FROM documents WHERE doc_id < 200 ORDER BY media_id""".stripMargin,

    // full annotate mirror. The documents table is pure [a-z0-9 ] text, so
    // tokenize == whitespace split, punct/digit/upper counts are 0, and the
    // quality formula collapses to rep*0.5 + 0.25 + lenOk*0.25 (same
    // left-assoc double arithmetic as the Spark column expression). The
    // fingerprint mirrors the JVM's 64-bit overflow via HUGEINT mod 2^64.
    "ts04_annotate" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |b2 AS (
        |  SELECT doc_id, lang, toks,
        |         len(toks) AS n_tok, len(list_distinct(toks)) AS n_dist,
        |         greatest(len(toks), 1) AS nt,
        |         array_to_string(toks, ' ') AS joined
        |  FROM base),
        |langs AS (
        |  SELECT * FROM (VALUES
        |    ('en', ['the','and','of','to','in','is','that','it','for','on','with','as','a']),
        |    ('fr', ['le','la','les','de','des','et','en','un','une','que','est','pour','dans']),
        |    ('de', ['der','die','das','und','in','den','von','zu','mit','ist','des','nicht']),
        |    ('es', ['el','la','los','las','de','y','en','que','es','un','una','por','con']),
        |    ('it', ['il','la','di','e','che','in','un','una','per','con','del','sono']))
        |    l(lg, words)),
        |hits AS (
        |  SELECT b.doc_id, l.lg,
        |         len(list_filter(b.toks, t -> list_contains(l.words, t))) AS h
        |  FROM b2 b CROSS JOIN langs l),
        |ranked AS (
        |  SELECT doc_id, lg, h,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY h DESC, lg DESC) AS rn
        |  FROM hits),
        |pred AS (
        |  SELECT doc_id, CASE WHEN h = 0 THEN 'und' ELSE lg END AS lang_pred
        |  FROM ranked WHERE rn = 1)
        |SELECT b.doc_id, b.lang, p.lang_pred,
        |  CAST(b.n_tok AS INTEGER) AS n_tokens,
        |  CAST(b.n_dist AS INTEGER) AS n_distinct_tokens,
        |  CAST(len(list_filter(b.toks,
        |    t -> list_contains(['the','and','of','to','in','is','that','it','for','on','with','as','a'], t)))
        |    AS DOUBLE) / b.nt AS stopword_ratio,
        |  1.0 - CAST(b.n_dist AS DOUBLE) / b.nt AS repetition_ratio,
        |  (1.0 - (1.0 - CAST(b.n_dist AS DOUBLE) / b.nt)) * 0.5 + 0.25 +
        |    CASE WHEN CAST(list_sum(list_transform(b.toks, t -> length(t)))
        |                AS DOUBLE) / b.nt BETWEEN 2.0 AND 12.0
        |         THEN 1.0 ELSE 0.3 END * 0.25 AS quality,
        |  CAST(list_sum(list_transform(b.toks, t -> (length(t) + 3) // 4))
        |       AS INTEGER) AS bpe_tokens,
        |  CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616
        |            ELSE h END AS BIGINT) AS fingerprint
        |FROM (
        |  SELECT *, list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        [CAST(unicode(c) AS HUGEINT) FOR c IN string_split(joined, '')]),
        |      (acc, x) -> (31 * acc + x) % CAST(18446744073709551616 AS HUGEINT)) AS h
        |  FROM b2) b
        |JOIN pred p ON b.doc_id = p.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // BPE replay: 8 unrolled rounds, each = weighted pair count over the
    // current symbolization + (count DESC, l, r) argmax + the SAME
    // separator-string greedy-merge fold the Spark side applies
    "bp01_bpe_merges" -> {
      val rounds = (1 to 8).map { k =>
        s"""p$k AS (
           |  SELECT l, r, sum(f) AS c FROM (
           |    SELECT unnest(s[1:len(s)-1]) AS l, unnest(s[2:len(s)]) AS r, f
           |    FROM s${k - 1}) z GROUP BY l, r),
           |m$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
           |s$k AS (
           |  SELECT f, string_split(list_reduce(list_prepend('', s), (acc, x) ->
           |    CASE WHEN x = m.r AND (acc = m.l
           |              OR right(acc, length(m.l) + 1) = chr(31) || m.l)
           |         THEN acc || m.r
           |         WHEN acc = '' THEN x
           |         ELSE acc || chr(31) || x END), chr(31)) AS s
           |  FROM s${k - 1}, m$k m)""".stripMargin
      }.mkString(",\n")
      val ranks = (1 to 8).map { k =>
        s"""SELECT $k AS rank, l AS "left", r AS "right", CAST(c AS BIGINT) AS n FROM m$k"""
      }.mkString("\nUNION ALL ")
      s"""WITH wrd AS (
         |  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
         |                x -> x <> '')) AS w
         |  FROM documents),
         |wf AS (SELECT w, count(*) AS f FROM wrd GROUP BY w),
         |s0 AS (
         |  SELECT f, [w[i:i] FOR i IN range(1, length(w) + 1)] AS s FROM wf),
         |$rounds
         |SELECT * FROM (
         |$ranks) t ORDER BY rank""".stripMargin
    },

    // WordPiece replay: bp02's 8 training rounds build the merge pieces,
    // vocab = pieces ∪ (corpus chars − {j,q}), then greedy longest-match
    // unrolled 10 rounds (max word length is 8, each round consumes ≥ 1
    // char) — `best` is the longest vocab piece prefixing the remainder
    "wp01_wordpiece_segment" -> {
      val greedyRounds = (1 to 10).map { k =>
        s"""g$k AS (
           |  SELECT w,
           |    CASE WHEN unk OR rem = '' OR best IS NULL THEN rem
           |         ELSE substr(rem, best + 1) END AS rem,
           |    CASE WHEN unk OR rem = '' OR best IS NULL THEN np
           |         ELSE np + 1 END AS np,
           |    (unk OR (rem <> '' AND best IS NULL)) AS unk
           |  FROM (
           |    SELECT w, rem, np, unk,
           |      (SELECT max(length(v.p)) FROM vocab v
           |       WHERE v.p = rem[1:length(v.p)]) AS best
           |    FROM g${k - 1}) t)""".stripMargin
      }.mkString(",\n")
      val pieceRows = (1 to 8).map(k => s"SELECT (SELECT l || r FROM m$k) AS p")
        .mkString("\n         |  UNION ALL ")
      s"""WITH dtok AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
         |                x -> x <> '')) AS w
         |  FROM documents),
         |wf AS (SELECT w, count(*) AS f FROM dtok GROUP BY w),
         |s0 AS (
         |  SELECT w, f, [w[i:i] FOR i IN range(1, length(w) + 1)] AS s FROM wf),
         |$BpeRoundsSql,
         |pieces AS (
         |  $pieceRows),
         |chars AS (
         |  SELECT DISTINCT unnest([w[i:i] FOR i IN range(1, length(w) + 1)])
         |    AS p
         |  FROM wf),
         |vocab AS MATERIALIZED (
         |  -- MATERIALIZED: each greedy round references vocab; inlined,
         |  -- every reference would re-expand the whole BPE round chain
         |  SELECT DISTINCT p FROM (
         |    SELECT p FROM pieces
         |    UNION ALL
         |    SELECT p FROM chars WHERE p NOT IN ('j', 'q'))),
         |g0 AS MATERIALIZED (
         |  SELECT w, w AS rem, 0 AS np, false AS unk FROM wf),
         |$greedyRounds,
         |seg AS (
         |  SELECT w, CASE WHEN unk THEN 1 ELSE np END AS np, unk FROM g10)
         |SELECT d.doc_id, count(*) AS n_words,
         |  CAST(sum(s.np) AS BIGINT) AS n_pieces,
         |  CAST(sum(CASE WHEN s.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
         |FROM dtok d JOIN seg s ON s.w = d.w
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },

    // ug01: DuckDB reads the EM-chosen vocabulary artifact (piece
    // identity + rank are the discrete EM output) and independently
    // recomputes each piece's corpus occurrence count with the same
    // non-overlapping replace-based substring count the Spark side uses
    // — a cross-engine gate on both the saved vocabulary and the
    // counting arithmetic. scores_ok is the adjudicated float remainder
    // (EM probabilities), pinned TRUE. Gate runs at sf0.01, hence the
    // pinned slug.
    "ug01_unigram_vocab" ->
      s"""WITH v AS (
        |  SELECT CAST(rank AS INTEGER) AS rank, piece
        |  FROM read_json_auto(
        |    '/tmp/graft_ug01_r${OracleArtifacts.runToken}/_root_testdata_sf0_01/*.json'))
        |SELECT v.rank, v.piece,
        |  CAST(sum((len(d.text) - len(replace(d.text, v.piece, '')))
        |    // len(v.piece)) AS BIGINT) AS occ,
        |  TRUE AS scores_ok
        |FROM v CROSS JOIN documents d
        |GROUP BY 1, 2
        |ORDER BY 1""".stripMargin,

    // ug02 replay: seedPieceScores = integer substring-weight aggregate,
    // char vocab + top-64 multi-char by (cnt DESC, piece), score =
    // floor(1e6 * ln(cnt/total)); then the integer Viterbi DP unrolled 8
    // rounds (max word length), each round carrying the last 4 best
    // sums/piece counts as state columns (maxPieceLen = 4). Candidates
    // encode the (score, last-piece-length) tie-break into one integer
    // (combined = sum*8 + L, L<8), so GREATEST implements the operator's
    // smallest-backpointer rule exactly.
    "ug02_unigram_segment" -> {
      val S = "-4611686018427387904" // sentinel: far below any real sum*8
      val dpRounds = (1 to 8).map { k =>
        val cands = (1 to math.min(4, k)).map { l =>
          s"""COALESCE((t.b${l - 1} + (SELECT sc.score FROM scores sc
             |        WHERE sc.piece = t.w[${k - l + 1}:$k])) * 8 + $l, $S)""".stripMargin
        }.mkString(",\n      ")
        s"""g$k AS (
           |  SELECT u.w, u.len,
           |    CASE WHEN u.len < $k THEN u.b0
           |         WHEN u.bc = $S THEN NULL
           |         ELSE (u.bc - ((u.bc % 8) + 8) % 8) // 8 END AS b0,
           |    CASE WHEN u.len < $k THEN u.b1 ELSE u.b0 END AS b1,
           |    CASE WHEN u.len < $k THEN u.b2 ELSE u.b1 END AS b2,
           |    CASE WHEN u.len < $k THEN u.b3 ELSE u.b2 END AS b3,
           |    CASE WHEN u.len < $k THEN u.n0
           |         WHEN u.bc = $S THEN NULL
           |         ELSE 1 + (CASE ((u.bc % 8) + 8) % 8
           |                   WHEN 1 THEN u.n0 WHEN 2 THEN u.n1
           |                   WHEN 3 THEN u.n2 ELSE u.n3 END) END AS n0,
           |    CASE WHEN u.len < $k THEN u.n1 ELSE u.n0 END AS n1,
           |    CASE WHEN u.len < $k THEN u.n2 ELSE u.n1 END AS n2,
           |    CASE WHEN u.len < $k THEN u.n3 ELSE u.n2 END AS n3
           |  FROM (
           |    SELECT t.*, GREATEST(
           |      $cands) AS bc
           |    FROM g${k - 1} t) u)""".stripMargin
      }.mkString(",\n")
      s"""WITH dtok AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
         |                x -> x <> '')) AS w
         |  FROM documents),
         |wf AS (SELECT w, count(*) AS f FROM dtok GROUP BY w),
         |-- COUPLING GUARD: the DP below unrolls exactly 8 rounds and caps
         |-- substring starts at 8 (range(1,9)) — valid ONLY while every
         |-- fixture word is <= 8 chars (current max is exactly 8; see the
         |-- matching note at the operator's fixture spec). A longer word
         |-- must fail HERE, not as a spurious engine mismatch.
         |guard AS (
         |  SELECT CASE WHEN max(length(w)) > 8
         |    THEN error('ug02 oracle assumes max word length 8; lengthen the DP unroll')
         |    ELSE 1 END AS ok FROM wf),
         |cand AS (
         |  SELECT w[s:s + l - 1] AS piece, CAST(SUM(f) AS BIGINT) AS cnt
         |  FROM wf, guard, range(1, 9) s(s), range(1, 5) l(l)
         |  -- guard.ok MUST be referenced: an unused column is pruned and
         |  -- its error() never evaluates (verified on duckdb 1.0.0)
         |  WHERE s + l - 1 <= length(w) AND guard.ok = 1
         |  GROUP BY 1),
         |multi AS (
         |  SELECT piece, cnt FROM cand WHERE length(piece) > 1
         |  ORDER BY cnt DESC, piece LIMIT 64),
         |vocab AS (
         |  SELECT piece, cnt FROM cand WHERE length(piece) = 1
         |  UNION ALL SELECT piece, cnt FROM multi),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
         |scores AS MATERIALIZED (
         |  -- MATERIALIZED: 26 per-round lookups reference scores; inlined,
         |  -- each would re-expand the whole candidate aggregate
         |  SELECT piece, CAST(FLOOR(1e6 * LN(CAST(cnt AS DOUBLE)
         |           / CAST(total AS DOUBLE))) AS BIGINT) AS score
         |  FROM vocab, tot),
         |g0 AS MATERIALIZED (
         |  SELECT w, length(w) AS len, CAST(0 AS BIGINT) AS b0,
         |         CAST(NULL AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2,
         |         CAST(NULL AS BIGINT) AS b3, CAST(0 AS BIGINT) AS n0,
         |         CAST(NULL AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2,
         |         CAST(NULL AS BIGINT) AS n3
         |  FROM wf),
         |$dpRounds,
         |seg AS (
         |  SELECT w, CASE WHEN b0 IS NULL THEN 1 ELSE n0 END AS np,
         |         (b0 IS NULL) AS unk
         |  FROM g8)
         |SELECT d.doc_id, count(*) AS n_words,
         |  CAST(sum(s.np) AS BIGINT) AS n_pieces,
         |  CAST(sum(CASE WHEN s.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unseg
         |FROM dtok d JOIN seg s ON s.w = d.w
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },

    // BPE-apply replay: bp01's round chain carrying the word key, then the
    // doc token stream joins the final symbolization for per-doc piece sums
    "bp02_bpe_segment" ->
      s"""WITH dtok AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
         |                x -> x <> '')) AS w
         |  FROM documents),
         |wf AS (SELECT w, count(*) AS f FROM dtok GROUP BY w),
         |s0 AS (
         |  SELECT w, f, [w[i:i] FOR i IN range(1, length(w) + 1)] AS s FROM wf),
         |$BpeRoundsSql
         |SELECT d.doc_id, CAST(sum(len(v.s)) AS BIGINT) AS bpe_pieces
         |FROM dtok d JOIN s8 v ON v.w = d.w
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // tokenize-to-ids replay: bp02's 8 training rounds + segmentation,
    // vocabulary = merge outputs (ids 0..7 by round; duplicate piece
    // strings -> min id) then base chars sorted; per-doc flatten ordered
    // by (word position, piece position); docs with no tokens -> []
    "bp03_tokenize_ids" -> {
      val mergeRows = (1 to 8).map { k =>
        s"SELECT ${k - 1} AS id, (SELECT l || r FROM m$k) AS piece"
      }.mkString("\n         |  UNION ALL ")
      s"""WITH docs AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
         |                x -> x <> '') AS ws
         |  FROM documents),
         |dw AS (
         |  SELECT doc_id,
         |    unnest([{'ord': i, 'w': ws[i]} FOR i IN range(1, len(ws) + 1)],
         |           recursive := true)
         |  FROM docs),
         |wf AS (SELECT w, count(*) AS f FROM dw GROUP BY w),
         |s0 AS (
         |  SELECT w, f, [w[i:i] FOR i IN range(1, length(w) + 1)] AS s FROM wf),
         |$BpeRoundsSql,
         |mergev AS (
         |  $mergeRows),
         |basech AS (
         |  SELECT DISTINCT unnest([w[i:i] FOR i IN range(1, length(w) + 1)])
         |    AS piece
         |  FROM wf),
         |basev AS (
         |  SELECT 8 + row_number() OVER (ORDER BY piece) - 1 AS id, piece
         |  FROM basech),
         |vocab AS (
         |  SELECT piece, min(id) AS id FROM (
         |    SELECT id, piece FROM mergev
         |    UNION ALL SELECT id, piece FROM basev) v0
         |  GROUP BY piece),
         |pw AS (
         |  SELECT d.doc_id, d.ord,
         |    unnest([{'j': j, 'piece': sg.s[j]}
         |            FOR j IN range(1, len(sg.s) + 1)], recursive := true)
         |  FROM dw d JOIN s8 sg ON sg.w = d.w),
         |ids AS (
         |  SELECT p.doc_id, p.ord, p.j, v.id
         |  FROM pw p JOIN vocab v ON v.piece = p.piece),
         |agg AS (
         |  SELECT doc_id, list(CAST(id AS INTEGER) ORDER BY ord, j)
         |    AS token_ids
         |  FROM ids GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(array_to_string(a.token_ids, ','), '') AS token_ids_csv
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    // Cluster replay: dd05's exact pair derivation, then transitive closure
    // by recursive CTE — min reachable id per node IS the component label
    // the label-propagation fixpoint converges to
    // incremental CC gates against the FULL-graph rebuild — identical
    // SQL to dd06 (the equality of the two is the operator's contract)
    "dd14_incremental_components" -> Dd06CcSql,

    "dd06_dedup_clusters" -> Dd06CcSql,

    // dd13 replay: star contraction computes the SAME min-reachable-id
    // labels as dd06's propagation fixpoint — one oracle, two algorithms
    "dd13_cc_star" -> Dd06CcSql,

    // Preprocess-chain replay: dedup rn over the WHOLE corpus before the
    // language filter (order matters — mirrors Dedup.exact then .where),
    // then repetition filter, trigram-overlap decontamination, ts02's BPE
    // count, pk01's packing, per-sequence rollup
    "pp03_preprocess_pipeline" ->
      """WITH dd AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, lang,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |             AS rn
        |    FROM documents) t
        |  WHERE rn = 1 AND lang = 'en'),
        |rep AS (
        |  SELECT doc_id, text,
        |         1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dtf
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM dd) b),
        |q AS (SELECT doc_id, text FROM rep WHERE dtf <= 0.55),
        |bn AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id % 100 = 7),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ')
        |       FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS gram
        |  FROM bn),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ')
        |       FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM q) b),
        |hits AS (
        |  SELECT t.doc_id, count(*) AS n
        |  FROM tg t JOIN bg b ON b.gram = t.gram GROUP BY 1),
        |clean AS (
        |  SELECT q.doc_id, q.text FROM q
        |  LEFT JOIN hits h ON h.doc_id = q.doc_id
        |  WHERE coalesce(h.n, 0) < 3),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(
        |      list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
        |      w -> (length(w) + 3) // 4)) AS INTEGER) AS bpe
        |  FROM clean),
        |c AS (
        |  SELECT doc_id, bpe,
        |    sum(bpe) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - bpe
        |      AS strt
        |  FROM tok)
        |SELECT CAST(strt // 512 AS BIGINT) AS seq_id,
        |       count(*) AS n_docs,
        |       CAST(sum(bpe) AS BIGINT) AS seq_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // Chunking replay: same integer ceil-div chunk count; range() as a
    // scalar list + unnest (the table-function form can't take column args)
    "ck01_chunk_documents" ->
      """WITH b AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |         greatest(1, (len(w) - 8 + 23) // 24) AS nc
        |  FROM b),
        |x AS (
        |  SELECT doc_id, w,
        |         CAST(unnest(range(0, nc)) AS INTEGER) AS chunk_index
        |  FROM c)
        |SELECT doc_id, chunk_index,
        |       array_to_string(w[chunk_index * 24 + 1 : chunk_index * 24 + 32],
        |                       ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_index""".stripMargin,

    // Packing replay: ts02's BPE-ish count, one global running sum cut
    // every 2048 tokens; seq_id/seq_offset from the document's start
    // position in the concatenated stream
    // bucket = integer log2 via binary-string length (exact on both
    // engines, unlike float log2 at exact powers of two)
    "lb01_length_batches" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(
        |      list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
        |      w -> (length(w) + 3) // 4)) AS INTEGER) AS bpe_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, bpe_tokens,
        |    CAST(length(bin(CAST(greatest(bpe_tokens, 1) AS BIGINT))) - 1
        |      AS BIGINT) AS bucket
        |  FROM t)
        |SELECT doc_id, bpe_tokens, bucket,
        |  bucket * (CAST(1 AS BIGINT) << 40) +
        |    (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 32
        |    AS batch_id,
        |  (CAST(1 AS BIGINT) << CAST(bucket + 1 AS INTEGER)) AS pad_to
        |FROM b ORDER BY doc_id""".stripMargin,

    "pk01_sequence_packing" -> PackingSql,

    // the sharded path must produce BIT-IDENTICAL output to pk01 — that
    // identity is the gate
    "pk02_sequence_packing_sharded" -> PackingSql,

    // pk03 replay: the best-fit-decreasing fold run literally — a
    // recursive CTE threads the bin-fill list through the items in
    // (tokens DESC, id ASC) order; best fit = first position of the max
    // feasible fill (list_position returns the LOWEST index, matching the
    // Spark tie-break); per-bin fills/counts unnested at the end
    "pk03_packing_bfd" ->
      """WITH it AS (
        |  SELECT doc_id, w, row_number() OVER (ORDER BY w DESC, doc_id) AS i
        |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS w
        |        FROM documents WHERE doc_id < 1000) x
        |  WHERE w <= 256),
        |rec AS (
        |  WITH RECURSIVE st(i, fills, cnts) AS (
        |    SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
        |           CAST([] AS BIGINT[])
        |    UNION ALL
        |    SELECT st.i + 1,
        |      CASE WHEN b.k IS NULL THEN list_append(st.fills, it.w)
        |           ELSE list_slice(st.fills, 1, b.k - 1)
        |                || [st.fills[b.k] + it.w]
        |                || list_slice(st.fills, b.k + 1, len(st.fills)) END,
        |      CASE WHEN b.k IS NULL
        |             THEN list_append(st.cnts, CAST(1 AS BIGINT))
        |           ELSE list_slice(st.cnts, 1, b.k - 1)
        |                || [st.cnts[b.k] + 1]
        |                || list_slice(st.cnts, b.k + 1, len(st.cnts)) END
        |    FROM st
        |    JOIN it ON it.i = st.i + 1
        |    LEFT JOIN LATERAL (
        |      SELECT list_position(st.fills,
        |        list_max(list_filter(st.fills, f -> f + it.w <= 256))) AS k
        |    ) b ON TRUE)
        |  SELECT * FROM st),
        |fin AS (SELECT * FROM rec ORDER BY i DESC LIMIT 1)
        |SELECT CAST(unnest(generate_series(1, len(fills))) - 1 AS BIGINT)
        |    AS bin_id,
        |  unnest(cnts) AS n_docs, unnest(fills) AS fill,
        |  256 - unnest(fills) AS waste
        |FROM fin""".stripMargin,

    // Temperature-mix replay: integer quota math (floor-sqrt weights,
    // integer division) and the splitmix64 admission order over doc_id,
    // reinterpreted signed to match the Spark side's Long ordering
    "pp02_temperature_mix" ->
      """WITH counts AS (
        |  SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n,
        |         CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt
        |  FROM counts),
        |tot AS (SELECT sum(wt) AS tw FROM w),
        |q AS (
        |  SELECT source, least(n, (200 * wt) // tw) AS quota FROM w, tot),
        |h0 AS (
        |  SELECT doc_id, source, CAST(doc_id AS UHUGEINT) AS h
        |  FROM documents),
        |m1 AS (SELECT doc_id, source,
        |         (xor(h, h >> 30) * CAST(13787848793156543929 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS h FROM h0),
        |m2 AS (SELECT doc_id, source,
        |         (xor(h, h >> 27) * CAST(10723151780598845931 AS UHUGEINT))
        |         % CAST(18446744073709551616 AS UHUGEINT) AS h FROM m1),
        |hx AS (SELECT doc_id, source, xor(h, h >> 31) AS h FROM m2),
        |sg AS (
        |  SELECT doc_id, source,
        |    CAST(CAST(h AS HUGEINT) -
        |      CASE WHEN h >= CAST(9223372036854775808 AS UHUGEINT)
        |           THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
        |      AS BIGINT) AS s
        |  FROM hx),
        |rk AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY s, doc_id)
        |           AS rk
        |  FROM sg)
        |SELECT r.doc_id, r.source
        |FROM rk r JOIN q ON q.source = r.source
        |WHERE r.rk <= q.quota ORDER BY r.doc_id""".stripMargin,

    // Repetition metrics replay: same gram construction as the Spark side
    // (short docs degrade to one whole-doc gram), most-frequent-bigram scan
    // as a nested-lambda list comprehension
    "ts05_repetition_stats" ->
      """WITH b AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, w,
        |    [array_to_string(w[i:i+1], ' ')
        |       FOR i IN range(1, greatest(len(w) - 1, 1) + 1)] AS g2,
        |    [array_to_string(w[i:i+2], ' ')
        |       FOR i IN range(1, greatest(len(w) - 2, 1) + 1)] AS g3
        |  FROM b)
        |SELECT doc_id,
        |  CAST(len(w) AS INTEGER) AS n_tokens,
        |  round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
        |    AS dup_token_frac_r,
        |  round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
        |    AS dup_bigram_frac_r,
        |  round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
        |    AS dup_trigram_frac_r,
        |  round(CAST(list_max([len(list_filter(g2, x -> x = gg))
        |               FOR gg IN list_distinct(g2)]) AS DOUBLE) / len(g2), 6)
        |    AS top_bigram_frac_r
        |FROM g ORDER BY doc_id""".stripMargin,

    // PII scrub replay: identical regexes (Java/RE2-shared subset), DuckDB
    // needs the 'g' flag to match Spark's replace-all default
    "ts06_pii_scrub" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    concat_ws(' ', 'contact', lower(c_name), 'at',
        |      lower(c_name) || '@example.com', 'or',
        |      concat_ws('-', CAST(10 + c_custkey % 90 AS VARCHAR),
        |        CAST(100 + c_custkey % 900 AS VARCHAR),
        |        CAST(100 + (c_custkey * 7) % 900 AS VARCHAR),
        |        CAST(1000 + (c_custkey * 13) % 9000 AS VARCHAR)),
        |      'ref', c_mktsegment) AS text
        |  FROM customer)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS INTEGER)
        |    AS n_phones,
        |  regexp_replace(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')
        |    AS text_scrubbed
        |FROM t ORDER BY c_custkey""".stripMargin,

    // closed-form canonical replay: both messy variants collapse to the
    // same normalized URL of the pair's even id; keep = even
    "un01_url_canonical_dedup" ->
      """SELECT doc_id,
        | 'http://example.com/docs/' ||
        |   CAST(doc_id - (doc_id % 2) AS VARCHAR) ||
        |   '?a=1&b=' || CAST((doc_id - (doc_id % 2)) % 3 AS VARCHAR)
        |   AS canonical,
        | (doc_id % 2 = 0) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,

    // bigram LM replay: counts from the same corpus, add-one smoothing,
    // ln((cbg+1)/(cprev+V)), per-doc mean rounded to 5
    "lm01_bigram_quality" ->
      s"""WITH $LmScoreCtes
        |SELECT d.doc_id, s.lm_score_r,
        |  coalesce(s.n_bigrams, 0) AS n_bigrams
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // cq01 extends lm01's replay with exact ntile tiers on the rounded
    // score (DESC NULLS LAST matches Spark's desc_nulls_last default
    // divergence: DuckDB DESC puts nulls first unless told otherwise)
    "cq01_quality_buckets" ->
      s"""WITH $LmScoreCtes,
        |b AS (
        |  SELECT d.doc_id, s.lm_score_r
        |  FROM (SELECT DISTINCT doc_id FROM documents) d
        |  LEFT JOIN s USING (doc_id))
        |SELECT doc_id, lm_score_r,
        |  CAST(ntile(3) OVER (ORDER BY lm_score_r DESC NULLS LAST, doc_id)
        |    AS INT) AS bucket
        |FROM b ORDER BY doc_id""".stripMargin,

    // extended PII replay: each pattern counted on the intermediate
    // scrubbed by all prior patterns, chained replaces with 'g'
    "ts07_pii_extended" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    concat_ws(' ', 'login from',
        |      '10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
        |        CAST((c_custkey * 3) % 256 AS VARCHAR) || '.' ||
        |        CAST((c_custkey * 7) % 256 AS VARCHAR),
        |      'email', lower(c_name) || '@host.org', 'pay',
        |      concat_ws(' ', CAST(4000 + c_custkey % 1000 AS VARCHAR),
        |        CAST(1000 + (c_custkey * 3) % 9000 AS VARCHAR),
        |        CAST(1000 + (c_custkey * 7) % 9000 AS VARCHAR),
        |        CAST(1000 + (c_custkey * 13) % 9000 AS VARCHAR)),
        |      'seg', c_mktsegment) AS text
        |  FROM customer),
        |s AS (
        |  SELECT c_custkey, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s1
        |  FROM t),
        |s2t AS (
        |  SELECT *, regexp_replace(s1,
        |      '\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS s2
        |  FROM s),
        |s3t AS (
        |  SELECT *, regexp_replace(s2,
        |      '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g') AS s3
        |  FROM s2t)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(s1,
        |    '\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS INTEGER) AS n_phones,
        |  CAST(len(regexp_extract_all(s2,
        |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS INTEGER) AS n_ips,
        |  CAST(len(regexp_extract_all(s3,
        |    '\b[0-9]{4}([- ][0-9]{4}){3}\b')) AS INTEGER) AS n_cards,
        |  regexp_replace(s3,
        |    '\b[0-9]{4}([- ][0-9]{4}){3}\b', '<CARD>', 'g') AS text_scrubbed
        |FROM s3t ORDER BY c_custkey""".stripMargin,

    // Decontamination replay: distinct trigrams per train doc vs the
    // benchmark's whole distinct gram set, inner-join overlap count
    "dc01_decontaminate" ->
      """WITH tr AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id % 100 <> 7),
        |bn AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id % 100 = 7),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ')
        |       FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS gram
        |  FROM tr),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ')
        |       FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS gram
        |  FROM bn),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY 1),
        |hits AS (
        |  SELECT t.doc_id, count(*) AS n_overlap
        |  FROM tg t JOIN bg b ON b.gram = t.gram GROUP BY 1)
        |SELECT s.doc_id, s.n_grams, h.n_overlap
        |FROM sizes s JOIN hits h ON h.doc_id = s.doc_id
        |WHERE h.n_overlap >= 3 ORDER BY s.doc_id""".stripMargin,

    // uc01 replay: same deterministic mutations (combining marks spelled
    // via escapes so no editor can silently normalize them), DuckDB's
    // nfc_normalize vs the JDK Normalizer — both implement Unicode NFC;
    // explicit code-point ranges keep Java regex and RE2 in agreement
    "uc01_unicode_clean" -> {
      val comb = "\u0301" // combining acute
      val diaer = "\u0308" // combining diaeresis
      val eAcute = "\u00e9"
      val cyrA = "\u0430" // Cyrillic a
      s"""WITH src AS (
         |  SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
         |    WHEN 0 THEN text || ' cafe$comb nai${diaer}ve'
         |    WHEN 1 THEN text || ' caf$eAcute'
         |    WHEN 2 THEN regexp_replace(text, 'a', '$cyrA', 'g')
         |    ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id, nfc_normalize(text) AS text_nfc,
         |  text <> nfc_normalize(text) AS nfc_changed,
         |  length(text)
         |    - length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g'))
         |    AS n_nonascii,
         |  regexp_matches(text, '[\\x{0400}-\\x{04ff}]')
         |    AND regexp_matches(text, '[A-Za-z]') AS mixed_script
         |FROM src ORDER BY doc_id""".stripMargin
    }
  )
}

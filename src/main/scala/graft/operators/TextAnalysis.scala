package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextKernels

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All scalar
  * per-row transforms — embarrassingly parallel, no shuffle. */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword heuristic
    * language identifier. Public knowledge (most-frequent function words). */
  private val profiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "for", "on", "with", "as", "a"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "en", "un", "une", "que", "est", "pour", "dans"),
    "de" -> Set("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist", "des", "nicht"),
    "es" -> Set("el", "la", "los", "las", "de", "y", "en", "que", "es", "un", "una", "por", "con"),
    "it" -> Set("il", "la", "di", "e", "che", "in", "un", "una", "per", "con", "del", "sono"))

  /** Heuristic language ID: CJK codepoint ratio short-circuits to zh/ja/ko;
    * otherwise the language whose stopword profile covers the most tokens.
    * Returns "und" when nothing matches. */
  val langIdUdf = udf { (text: String) =>
    if (text == null || text.isEmpty) "und"
    else {
      val cjk = text.codePoints().toArray.count(cp =>
        Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN)
      if (cjk * 5 >= text.length) "zh"
      else {
        val toks = TextKernels.tokenize(text)
        if (toks.isEmpty) "und"
        else {
          val scores = profiles.view.mapValues(p => toks.count(p.contains)).toMap
          val (bestLang, bestHits) = scores.maxBy { case (l, h) => (h, l) }
          if (bestHits == 0) "und" else bestLang
        }
      }
    }
  }

  /** Quality metrics struct: length, token stats, punctuation/digit/upper
    * ratios, stopword ratio, mean token length, repetition ratio (1 -
    * distinct/total tokens). Mirrors the usual pretraining quality filters
    * (Gopher/C4-style rules, public). */
  val qualityUdf = udf { (text: String) =>
    if (text == null) null
    else {
      val n = text.length.max(1)
      val toks = TextKernels.tokenize(text)
      val nTok = toks.length.max(1)
      val punct = text.count(c => !Character.isLetterOrDigit(c) && !Character.isWhitespace(c))
      val digit = text.count(Character.isDigit)
      val upper = text.count(Character.isUpperCase)
      val stop = toks.count(profiles("en").contains)
      (toks.length,
        toks.distinct.length,
        punct.toDouble / n,
        digit.toDouble / n,
        upper.toDouble / n,
        stop.toDouble / nTok,
        toks.map(_.length).sum.toDouble / nTok,
        1.0 - toks.distinct.length.toDouble / nTok)
    }
  }

  /** Composite [0,1] quality score from the metrics struct (monotone rules:
    * penalize extreme repetition, punctuation soup, absurd token lengths). */
  def qualityScore(metrics: Column): Column = {
    val rep = lit(1.0) - metrics.getField("_8")
    val punctOk = lit(1.0) - least(metrics.getField("_3") * 4, lit(1.0))
    val lenOk = when(metrics.getField("_7").between(2.0, 12.0), 1.0).otherwise(0.3)
    (rep * 0.5 + punctOk * 0.25 + lenOk * 0.25)
  }

  /** Whitespace + BPE-ish token count: splits on whitespace, then counts
    * sub-word chunks of <= 4 chars (a cheap proxy for BPE token count used
    * for budget estimation in data pipelines). */
  val tokenCountUdf = udf { (text: String) =>
    if (text == null) 0
    else text.split("\\s+").filter(_.nonEmpty)
      .map(w => (w.length + 3) / 4).sum
  }

  /** 64-bit polynomial rolling-hash fingerprint of the simplified text
    * (order-sensitive, whitespace-normalized) — stable document identity
    * across re-crawls with formatting noise. */
  val fingerprintUdf = udf { (text: String) =>
    if (text == null) 0L
    else {
      val s = TextKernels.tokenize(text).mkString(" ")
      var h = 1125899906842597L
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      h
    }
  }

  /** Gopher-style repetition metrics (Rae et al. '21 §A1.1, public):
    * duplicate-token / duplicate-n-gram fractions and the fraction of the
    * document covered by its single most frequent bigram. Pure higher-order
    * `functions` Columns — codegen'd, per-row, shuffle-free; the
    * most-frequent-gram scan is O(distinct·total) per row, bounded by
    * document length (pipelines chunk pathological documents upstream).
    * Documents shorter than the gram width degrade to one whole-document
    * gram (same convention as [[Dedup.ngramJaccardPairs]]). */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("_w_"))
      .withColumn("_g2_", expr(
        "transform(sequence(1, greatest(size(_w_) - 1, 1)), i -> array_join(slice(_w_, i, 2), ' '))"))
      .withColumn("_g3_", expr(
        "transform(sequence(1, greatest(size(_w_) - 2, 1)), i -> array_join(slice(_w_, i, 3), ' '))"))
      .select(
        col(idCol),
        size(col("_w_")).as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("_w_"))).cast("double") / size(col("_w_")))
          .as("dup_token_frac"),
        (lit(1.0) - size(array_distinct(col("_g2_"))).cast("double") / size(col("_g2_")))
          .as("dup_bigram_frac"),
        (lit(1.0) - size(array_distinct(col("_g3_"))).cast("double") / size(col("_g3_")))
          .as("dup_trigram_frac"),
        (expr("array_max(transform(array_distinct(_g2_), g -> size(filter(_g2_, x -> x = g))))")
          .cast("double") / size(col("_g2_"))).as("top_bigram_frac"))

  /** HTML → text extraction (the WET step of a crawl pipeline, public
    * CommonCrawl convention): drop script/style subtrees, strip tags,
    * decode the five predefined XML entities, collapse whitespace. Every
    * pattern stays in the Java/RE2-shared regex subset (alternation,
    * lazy quantifiers, (?is) flags — no backreferences, no lookarounds),
    * and entity decoding is non-regex `replace`, so a SQL oracle replays
    * the transform byte-for-byte. &amp; decodes LAST — decoding it
    * earlier would conjure entities out of literal text like
    * `&amp;lt;`. Per-row, shuffle-free. */
  def stripHtml(df: DataFrame, textCol: String): DataFrame = {
    val noScript = regexp_replace(col(textCol),
      lit("(?is)<(script|style)[^>]*>.*?</(script|style)>"), lit(" "))
    val noTags = regexp_replace(noScript, lit("<[^>]+>"), lit(" "))
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    df.withColumn("clean_text",
      trim(regexp_replace(decoded, lit("\\s+"), lit(" "))))
  }

  /** Per-document Shannon entropy of the character distribution (nats):
    * H = −Σ_c (k_c/n)·ln(k_c/n). A low-entropy document is repetitive or
    * templated (the cheap proxy for "would gzip well" that curation
    * pipelines use as a quality signal alongside the Gopher rules).
    *
    * Float determinism: the per-doc fold runs over (char, count) pairs
    * sorted by char (`sort_array` on the struct — unique first field, so
    * the order is total), seeded at 0.0, accumulating ascending — the
    * identical addition sequence DuckDB's `list_reduce` over
    * `list(... ORDER BY c)` produces. ASCII-only comparison contract
    * (UTF-16 unit order vs code-point order agree on the BMP subset the
    * corpus uses — same caveat as the hash-replay oracles).
    *
    * Scale shape: one (doc, char)-keyed aggregate with map-side combine
    * (distinct chars per doc ≤ alphabet, so the shuffle is tiny), one
    * doc-keyed regroup. Empty documents yield entropy 0 via the left
    * join. Output: (idCol, entropy). */
  def charEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val counts = df
      .select(col(idCol).as("_id_"), explode(split(col(textCol), "")).as("_c_"))
      .where(col("_c_") =!= "")
      .groupBy("_id_", "_c_").agg(count(lit(1)).as("_k_"))
    val perDoc = counts.groupBy("_id_")
      .agg(sort_array(collect_list(struct(col("_c_"), col("_k_")))).as("_cs_"),
        sum("_k_").as("_n_"))
      .select(col("_id_"),
        (-aggregate(col("_cs_"), lit(0.0),
          (acc, x) => acc + (x("_k_") / col("_n_")) * log(x("_k_") / col("_n_"))))
          .as("entropy"))
    df.select(col(idCol).as("_id_"))
      .join(perDoc, Seq("_id_"), "left")
      .select(col("_id_").as(idCol),
        coalesce(col("entropy"), lit(0.0)).as("entropy"))
  }

  /** Email pattern kept within the regex subset Java (Spark) and RE2
    * (DuckDB oracle) interpret identically — no lookarounds, no \p classes. */
  val EmailRe = "[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** TPC-H-style phone shape `NN-NNN-NNN-NNNN`; \b is the ASCII word
    * boundary both engines share. */
  val PhoneRe = "\\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** PII scrubbing (C4-style pre-training hygiene, public): replace emails
    * and phone numbers with typed placeholder tokens and count what was
    * redacted (the metering a compliance pipeline reports). Emails scrub
    * FIRST so the phone pass can never match digits inside an address that
    * was already collapsed to `<EMAIL>` — and for the same reason n_phones
    * is metered on the email-scrubbed intermediate, so a phone-shaped
    * substring inside an email local part (12-345-678-9012@x.com) is
    * neither counted nor replaced. Counts always agree with the scrubbed
    * text. Per-row regex — shuffle-free. */
  def scrubPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("n_phones",
        regexp_count(regexp_replace(col(textCol), EmailRe, "<EMAIL>"), lit(PhoneRe)))
      .withColumn(s"${textCol}_scrubbed",
        regexp_replace(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))

  /** IP-shaped dotted quad. Shape-level, like C4's heuristics — octet
    * range validation would leave the Java/RE2-shared subset for no
    * metering gain. */
  val IpRe = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"

  /** 16-digit card-shaped number in 4-4-4-4 groups, dash or space
    * separated. Shape-level (no Luhn): the scrub must stay a pure Column
    * program and the oracle must replay it. */
  val CardRe = "\\b[0-9]{4}([- ][0-9]{4}){3}\\b"

  /** [[scrubPii]] extended with ip/card patterns. Each pattern is metered
    * on the intermediate scrubbed by all PRIOR patterns — the invariant
    * that counts always agree with the final text (an ip or digit run
    * inside an email local part is neither counted nor replaced, because
    * the email pass already collapsed it). */
  def scrubPiiExtended(df: DataFrame, textCol: String): DataFrame = {
    val s1 = regexp_replace(col(textCol), EmailRe, "<EMAIL>")
    val s2 = regexp_replace(s1, PhoneRe, "<PHONE>")
    val s3 = regexp_replace(s2, IpRe, "<IP>")
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("n_phones", regexp_count(s1, lit(PhoneRe)))
      .withColumn("n_ips", regexp_count(s2, lit(IpRe)))
      .withColumn("n_cards", regexp_count(s3, lit(CardRe)))
      .withColumn(s"${textCol}_scrubbed", regexp_replace(s3, CardRe, "<CARD>"))
  }

  /** CCNet-style corpus-LM quality score: add-one-smoothed bigram
    * log-probability per token, trained on a reference corpus (commonly a
    * trusted slice; here callers often pass the corpus itself).
    *
    *   score(doc) = mean over bigrams of ln((c(prev,cur)+1) / (c1(prev)+V))
    *
    * with c1(prev) = bigram occurrences starting at prev and V = distinct
    * corpus vocabulary. Low scores flag gibberish / boilerplate the way
    * CCNet's KenLM perplexity bucket does.
    *
    * 100 TB shape: the count tables are vocabulary-sized (quadratically
    * smaller than the corpus), so the per-doc join is broadcast-shaped;
    * bigram extraction is a narrow array transform, no self-join. Docs
    * with < 2 tokens score null (no bigrams to judge). */
  def bigramQuality(docs: DataFrame, corpus: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= lit(""))
    val bgExpr = expr(
      "explode(transform(sequence(1, size(_w_) - 1), " +
        "i -> struct(_w_[i-1] as prev, _w_[i] as cur)))")
    def bigrams(df: DataFrame, keep: Seq[Column]) = df
      .select(keep :+ toks.as("_w_"): _*)
      .where(size(col("_w_")) >= 2)
      .select(keep :+ bgExpr.as("_bg_"): _*)
      .select(keep :+ col("_bg_.prev").as("prev") :+ col("_bg_.cur").as("cur"): _*)
    val cbg = bigrams(corpus, Nil).groupBy("prev", "cur")
      .agg(count(lit(1)).as("_cbg_"))
    val cprev = cbg.groupBy("prev").agg(sum("_cbg_").as("_cprev_"))
    val vocab = corpus.select(explode(toks).as("_t_"))
      .agg(countDistinct("_t_")).head().getLong(0)
    val scored = bigrams(docs, Seq(col(idCol)))
      .join(cbg, Seq("prev", "cur"), "left")
      .join(cprev, Seq("prev"), "left")
      .withColumn("_lp_", log(
        (coalesce(col("_cbg_"), lit(0L)) + 1).cast("double") /
          (coalesce(col("_cprev_"), lit(0L)) + vocab).cast("double")))
      .groupBy(idCol)
      .agg(avg("_lp_").as("lm_score"), count(lit(1)).as("n_bigrams"))
    docs.select(col(idCol)).distinct().join(scored, Seq(idCol), "left")
  }

  /** Unicode NFC normalizer (both engines implement the same Unicode
    * standard algorithm, so the oracle replays it with `nfc_normalize`). */
  val nfcUdf = udf { (text: String) =>
    if (text == null) null
    else java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
  }

  /** Unicode hygiene report: NFC-normalize the text and flag the two
    * things a multilingual curation pass triages first — non-canonical
    * encodings (the same visible string byte-differing across sources
    * defeats exact dedup and vocabulary lookups until NFC collapses
    * composed/decomposed forms), and Latin/Cyrillic MIXED-SCRIPT tokens
    * (the classic homoglyph-spoofing signature: "pаypal" with a Cyrillic
    * а). Script detection is explicit code-point ranges, not
    * \p{Script=...} classes, because the explicit ranges mean the same
    * thing to Java regex and RE2; astral (non-BMP) planes are out of
    * scope for the counters (Spark's `length` counts UTF-16 units,
    * DuckDB's counts code points — equal only inside the BMP).
    *
    * Per-row Columns + one scalar UDF — shuffle-free, linear. Output:
    * (`idCol`, text_nfc, nfc_changed, n_nonascii, mixed_script). */
  def unicodeClean(df: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val nfc = nfcUdf(col(textCol))
    df.select(col(idCol), nfc.as("text_nfc"),
      (col(textCol) =!= nfc).as("nfc_changed"),
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), "[^\\u0000-\\u007f]", "")))
        .as("n_nonascii"),
      (col(textCol).rlike("[\\u0400-\\u04ff]") &&
        col(textCol).rlike("[A-Za-z]")).as("mixed_script"))
  }

  /** C4-style heuristic cleaning (Raffel et al. 2020 §2.2, public recipe):
    * keep only lines that end in terminal punctuation (`.` `!` `?` `"`),
    * have at least `minWordsPerLine` words, and don't mention javascript;
    * blank the whole document when it shows code/boilerplate markers
    * (`{`, "lorem ipsum"); flag it kept only when at least
    * `minLinesPerDoc` lines survive. Returns (id, clean_text, n_lines,
    * n_kept, doc_kept) — counts always agree with `clean_text`, same
    * metering invariant as [[scrubPiiExtended]].
    *
    * Pure higher-order Columns — codegen'd, per-row, shuffle-free; every
    * predicate stays in the string-function subset Spark and the DuckDB
    * oracle interpret identically (no regex beyond `\s+`). */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minWordsPerLine: Int = 3, minLinesPerDoc: Int = 1): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keepLine = (l: Column) =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"") &&
        (size(filter(split(l, "\\s+"), w => w =!= "")) >= minWordsPerLine) &&
        !lower(l).contains("javascript")
    val bad = lower(col(textCol)).contains("lorem ipsum") ||
      col(textCol).contains("{")
    val kept = filter(lines, keepLine)
    val nKept = when(bad, lit(0)).otherwise(size(kept))
    df.select(col(idCol),
      when(bad, lit("")).otherwise(array_join(kept, "\n")).as("clean_text"),
      size(lines).as("n_lines"),
      nKept.as("n_kept"),
      (!bad && (size(kept) >= minLinesPerDoc)).as("doc_kept"))
  }

  /** Corpus-level frequent n-gram table: document frequency of every
    * lowercased word n-gram, thresholded at `minDocFreq` and cut to the
    * global `topK` (ties broken by gram text). The standard input to
    * boilerplate detection ([[Dedup.removeFrequentLines]] decides WHAT to
    * cut; this reports what's frequent) and to contamination review.
    *
    * 100 TB shape: per-document grams are distinct'd BEFORE the shuffle
    * (so (doc, gram) is unique and doc frequency is a plain count with
    * map-side partial aggregation — no countDistinct shuffle of ids), and
    * the global top-K is a driver-side limit over the thresholded
    * aggregate, which is vocabulary-sized, not corpus-sized. */
  def frequentNgrams(df: DataFrame, idCol: String, textCol: String,
                     n: Int, minDocFreq: Int = 2, topK: Int = 100): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\W+"), t => t =!= "")
    val grams = df.select(col(idCol).as("_id_"), toks.as("_ts_"))
      .where(size(col("_ts_")) >= n)
      .select(col("_id_"), explode(array_distinct(transform(
        sequence(lit(0), size(col("_ts_")) - n),
        i => array_join(slice(col("_ts_"), i + 1, lit(n)), " ")))).as("gram"))
    grams.groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .where(col("doc_freq") >= minDocFreq)
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(topK)
  }

  /** Gopher's stopword set for the "contains at least 2" rule (Rae et al.
    * '21 §A1.1, public). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule battery (Rae et al. '21 §A1.1, public): word
    * count bounds, mean word length 3-10, symbol-to-word ratio (# and …)
    * < 0.1, >= 80 % of words contain an alphabetic char, >= 2 stopwords,
    * <= 90 % bullet lines, <= 30 % ellipsis-ending lines. Returns the
    * metrics, one boolean per rule, and `keep` = AND of all rules — the
    * per-rule flags are what an ablation dashboard consumes.
    *
    * Pure higher-order Columns, per-row, shuffle-free; every predicate
    * stays in the Spark/DuckDB-shared subset (counts via length-difference
    * `replace`, membership via a literal IN list). */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val words = filter(split(t, "\\s+"), w => w =!= "")
    val nWords = size(words)
    val meanLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      .cast("double") / nWords
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (nHash + nEllipsis).cast("double") / nWords
    val alphaRatio = size(filter(words, w => w.rlike("[A-Za-z]")))
      .cast("double") / nWords
    val nStop = size(filter(words,
      w => lower(w).isin(GopherStopwords.map(x => x: Any): _*)))
    val lines = split(t, "\n")
    val nLines = size(lines)
    val bulletRatio = size(filter(lines,
      l => substring(ltrim(l), 1, 1).isin("-", "*", "•")))
      .cast("double") / nLines
    val ellipsisLineRatio = size(filter(lines,
      l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
      .cast("double") / nLines
    val rules = Seq(
      "r_word_count" -> nWords.between(minWords, maxWords),
      "r_mean_word_len" -> meanLen.between(3.0, 10.0),
      "r_symbol_ratio" -> (symbolRatio < 0.1),
      "r_alpha_words" -> (alphaRatio >= 0.8),
      "r_stopwords" -> (nStop >= 2),
      "r_bullets" -> (bulletRatio <= 0.9),
      "r_ellipsis" -> (ellipsisLineRatio <= 0.3))
    df.select(
      Seq(col(idCol), nWords.as("n_words"), round(meanLen, 5).as("mean_word_len")) ++
        rules.map { case (n, c) => c.as(n) } :+
        rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** Blocklist filter (the C4 "bad words" stage, public recipe): flag
    * documents containing any of a fixed phrase list (case-insensitive
    * substring), report how many terms matched and the first match — the
    * audit columns a filtering report needs. The list rides the plan as a
    * literal array (blocklists are small); a list too large for that
    * becomes a broadcast join on extracted tokens, or an Aho-Corasick
    * scan UDF — per-row either way, never a shuffle of the corpus. */
  def blocklistFilter(df: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String]): DataFrame = {
    val lowered = lower(col(textCol))
    val matched = filter(array(terms.map(t => lit(t.toLowerCase)): _*),
      t => contains(lowered, t))
    df.select(col(idCol),
      size(matched).as("n_matches"),
      coalesce(try_element_at(matched, lit(1)), lit("")).as("first_match"),
      (size(matched) === 0).as("keep"))
  }

  /** Head/middle/tail corpus bucketing by a quality score (the CCNet
    * perplexity-bucket recipe, public): `nBuckets` equal-size tiers over
    * (score desc, id) — bucket 1 is the best slice, the one typically
    * up-sampled in the training mix.
    *
    * As written this is one global ntile sort — exact, the gate's
    * formulation. The 100 TB variant computes approximate quantile
    * boundaries in one pass, broadcasts them, and assigns buckets with a
    * per-row comparison (no global sort); the boundary-vs-exact difference
    * is confined to ties at the cut points. */
  def scoreBuckets(df: DataFrame, idCol: String, scoreCol: String,
                   nBuckets: Int = 3): DataFrame = {
    // exact NTILE over (score DESC NULLS LAST, id ASC) without the global
    // ordered window (per-document scores are data-sized, so a
    // single-partition sort would be the job at 100 TB): descending score == ascending NEGATED score (negation is
    // exact for doubles), NULLS LAST via the dedicated last shard, then
    // Packing.ntileSharded's two-phase rank. NON-FINITE scores are
    // rejected IN-PLAN (contract narrowing vs the old window form, which
    // sorted NaN first): the sharded rank keys on a bigint truncation of
    // the score, where NaN/±Inf either throw a cryptic ANSI CAST_OVERFLOW
    // or scramble the shard bounds — a NaN quality score is an upstream
    // bug and should say so by name. NULLs keep their worst-bucket order.
    val clash = df.columns.intersect(Seq("_negs_", "_one_", "_gr_", "bucket"))
    require(clash.isEmpty, s"scoreBuckets reserves scratch/output column " +
      s"names [_negs_, _one_, _gr_, bucket]; rename: ${clash.mkString(", ")}")
    val negated = graft.operators.Guards.finiteOrRaise(
      col(scoreCol), -col(scoreCol).cast("double"),
      graft.operators.Guards.nonFiniteMsg("scoreBuckets", scoreCol,
        col(scoreCol), lit(s" for $idCol "),
        coalesce(col(idCol).cast("string"), lit("NULL"))))
    Packing.ntileSharded(df.withColumn("_negs_", negated),
        "_negs_", nBuckets, tieCols = Seq(idCol), nullsLast = true)
      .withColumn("bucket", col("bucket").cast("int")) // ntile's INT contract
      .drop("_negs_")
  }

  /** The 100 TB variant of [[scoreBuckets]]: approximate quantile
    * boundaries in one Greenwald-Khanna pass (`df.stat.approxQuantile`),
    * then a per-row comparison — no global sort, no single-partition
    * window. Bucket 1 is still the best tier; rows only ever land in a
    * different bucket than the exact path within `relErr` of a cut
    * point. Nulls go to the worst bucket (the exact path's NULLS LAST). */
  def scoreBucketsApprox(df: DataFrame, idCol: String, scoreCol: String,
                         nBuckets: Int = 3, relErr: Double = 0.001): DataFrame = {
    val probs = (1 until nBuckets).map(i => i.toDouble / nBuckets).toArray
    // same dirty-data contract as the exact twin (round-16): a NaN score
    // compared `NaN < cut` is FALSE for every cut, so NaN rows silently
    // landed in bucket 1 — the best tier, the one up-sampled into the
    // training mix — while also poisoning approxQuantile's cuts; NULLs
    // keep the exact twin's worst-bucket placement
    val checked = graft.operators.Guards.finiteOrRaise(
      col(scoreCol), col(scoreCol),
      graft.operators.Guards.nonFiniteMsg("scoreBucketsApprox", scoreCol,
        col(scoreCol)))
    val cutsDesc = df.select(checked.as(scoreCol))
      .stat.approxQuantile(scoreCol, probs, relErr).reverse
    val bucket = cutsDesc.foldLeft(lit(1)) { (acc, cut) =>
      acc + when(checked < cut, 1).otherwise(0) }
    df.withColumn("bucket",
      when(col(scoreCol).isNull, nBuckets).otherwise(bucket))
  }

  /** RAKE keyword extraction (public algorithm: Rose et al. '10 — Rapid
    * Automatic Keyword Extraction): candidate phrases are maximal runs of
    * non-stopword tokens (capped at `maxPhraseLen` words, the standard
    * practice), each word scores deg(w)/freq(w) over the CORPUS-wide
    * candidate set (deg = Σ length of phrases containing w — co-
    * occurrence degree; freq = occurrence count), and a phrase scores the
    * sum of its words' scores. Top-`topK` phrases per document.
    *
    * Float determinism: deg and freq are exact integers, each word score
    * is ONE correctly-rounded division, and the phrase sum folds in
    * word-position order seeded at 0.0 — the identical sequence a SQL
    * replay produces, so ranking never diverges; ties break on (phrase
    * text, phrase position).
    *
    * Scale shape: one window per document (phrase-id running count), one
    * corpus-wide word aggregate (map-side combined — vocabulary-sized
    * shuffle), one word→stats hash join, one per-doc top-k window. No
    * driver state, no pairwise anything. Output: (idCol, rank, phrase,
    * score_r). */
  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String], maxPhraseLen: Int = 4,
                   topK: Int = 3): DataFrame = {
    require(maxPhraseLen >= 1 && topK >= 1, "bad RAKE parameters")
    val toks = df.select(col(idCol),
        posexplode(split(col(textCol), "\\s+")).as(Seq("_i_", "_w_")))
      .where(col("_w_") =!= "")
      .withColumn("_st_",
        when(col("_w_").isin(stopwords: _*), 1L).otherwise(0L))
    val wDoc = Window.partitionBy(idCol).orderBy("_i_")
    val phrases = toks
      .withColumn("_pid_", sum(col("_st_")).over(wDoc))
      .where(col("_st_") === 0)
      .groupBy(col(idCol), col("_pid_"))
      .agg(sort_array(collect_list(struct(col("_i_"), col("_w_"))))
        .as("_ws_"))
      .withColumn("_words_", expr("transform(_ws_, x -> x._w_)"))
      .withColumn("_len_", size(col("_words_")))
      .where(col("_len_") <= maxPhraseLen)
      .drop("_ws_")
    val stats = phrases
      .select(explode(col("_words_")).as("_w_"), col("_len_"))
      .groupBy("_w_")
      .agg(count(lit(1)).as("_freq_"), sum(col("_len_")).as("_deg_"))
    val scored = phrases
      .select(col(idCol), col("_pid_"),
        posexplode(col("_words_")).as(Seq("_wi_", "_w_")))
      .join(stats, "_w_")
      .groupBy(col(idCol), col("_pid_"))
      .agg(sort_array(collect_list(struct(col("_wi_"), col("_w_"),
        (col("_deg_").cast("double") / col("_freq_").cast("double"))
          .as("_s_")))).as("_terms_"))
      .select(col(idCol), col("_pid_"),
        expr("concat_ws(' ', transform(_terms_, x -> x._w_))").as("phrase"),
        expr("aggregate(_terms_, cast(0 as double), (a, x) -> a + x._s_)")
          .as("_score_"))
    val wTop = Window.partitionBy(idCol)
      .orderBy(col("_score_").desc, col("phrase"), col("_pid_"))
    scored.withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("phrase"),
        round(col("_score_"), 6).as("score_r"))
  }

  /** Convenience: annotate a document DataFrame with all analysis cols. */
  def annotate(df: DataFrame, textCol: String): DataFrame = df
    .withColumn("lang_pred", langIdUdf(col(textCol)))
    .withColumn("_qm_", qualityUdf(col(textCol)))
    .withColumn("n_tokens", col("_qm_").getField("_1"))
    .withColumn("n_distinct_tokens", col("_qm_").getField("_2"))
    .withColumn("stopword_ratio", col("_qm_").getField("_6"))
    .withColumn("repetition_ratio", col("_qm_").getField("_8"))
    .withColumn("quality", qualityScore(col("_qm_")))
    .withColumn("bpe_tokens", tokenCountUdf(col(textCol)))
    .withColumn("fingerprint", fingerprintUdf(col(textCol)))
    .drop("_qm_")

  /** Integer-quantized Flesch reading ease — the readability axis the
    * [[gopherRules]]/[[qualityScore]] heuristics don't cover (a page of
    * 60-word legalese sentences passes every length/stopword gate and is
    * still terrible training prose). Flesch = 206.835 − 1.015·(W/S) −
    * 84.6·(Syl/W), computed here in MILLI fixed point with integral
    * division — `206835 − (1015·W) div S − (84600·Syl) div W` — so the
    * score replays bit-identically on any engine (float division would
    * drift in the last ulp). Standard band: ≥ 60 000 ≈ plain English,
    * < 30 000 ≈ very hard.
    *
    * Counting heuristics (all single-pass regex, codegen-friendly, no
    * UDF): words = maximal `\S+` runs; sentences = maximal `[.!?]+`
    * runs, floored at 1; syllables = maximal `[aeiouy]+` runs of the
    * lowercased text — the classic vowel-group approximation (whitespace
    * separates words, so whole-text runs ≡ summed per-word runs).
    * Empty/whitespace-only texts yield NULL score (no words).
    *
    * Output: input columns + (n_words, n_sentences, n_syllables,
    * flesch_milli). */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    def runs(c: Column, pat: String) = size(regexp_extract_all(c, lit(pat), lit(0)))
    df.withColumn("n_words", runs(col(textCol), "\\S+").cast("long"))
      .withColumn("n_sentences",
        greatest(lit(1L), runs(col(textCol), "[.!?]+").cast("long")))
      .withColumn("n_syllables",
        runs(lower(col(textCol)), "[aeiouy]+").cast("long"))
      .withColumn("flesch_milli",
        when(col("n_words") > 0, expr(
          "206835 - (1015 * n_words) div n_sentences" +
            " - (84600 * n_syllables) div n_words")))
  }
}

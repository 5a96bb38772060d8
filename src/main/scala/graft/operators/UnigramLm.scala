package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-language-model tokenizer training (public algorithm: Kudo '18,
  * the SentencePiece `unigram` model): treat each word as generated by
  * independently drawing pieces from a vocabulary distribution, fit piece
  * probabilities by EM over all segmentations (forward–backward on the
  * position lattice), then prune to the target vocabulary keeping single
  * characters as the escape hatch. Completes the tokenizer triad next to
  * [[BpeTrainer]] (bottom-up merges) and [[WordPiece]] (longest-match
  * serving): unigram is the one that scores SEGMENTATIONS, which is what
  * subword regularization and n-best sampling need.
  *
  * Distribution shape (the [[BpeTrainer]] discipline): all corpus-sized
  * work — word counts, substring candidate counts, per-word expected
  * counts — is distributed over the DISTINCT-WORD table; the driver only
  * holds the vocabulary (seedCap-bounded collect) and coordinates EM
  * rounds (one aggregate job per round). Per-word lattice work is
  * O(len · maxPieceLen).
  *
  * Determinism: expected counts are quantized to 1e-6 fixed-point longs
  * BEFORE the cross-partition sum — double addition is non-associative,
  * so a raw-double reduce would drift with partitioning; integer sums
  * make every EM round bit-stable under any layout, retry, or cluster
  * size. In-lattice arithmetic is per-word-local (one JVM, fixed order),
  * so the whole train is reproducible. Iterative-ML gate: fixture/spec
  * (the gp01/tp01 convention BASELINE.md prescribes) — the E-step is a
  * real-valued fixpoint, not an integer program an oracle could replay.
  */
object UnigramLm {

  /** One vocabulary entry: piece string and its unigram probability. */
  case class Piece(piece: String, prob: Double)

  /** Forward scores over the word's position lattice: alpha(i) = total
    * probability of generating w[0,i) — alpha(i) = Σ alpha(j)·p(w[j,i)). */
  private def forward(w: String, probs: collection.Map[String, Double],
                      maxLen: Int): Array[Double] = {
    val n = w.length
    val alpha = new Array[Double](n + 1)
    alpha(0) = 1.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      var acc = 0.0
      while (j < i) {
        if (alpha(j) > 0) {
          val p = probs.getOrElse(w.substring(j, i), 0.0)
          if (p > 0) acc += alpha(j) * p
        }
        j += 1
      }
      alpha(i) = acc
      i += 1
    }
    alpha
  }

  /** Expected piece counts for one word via forward–backward:
    * E[#(piece at [j,i))] = alpha(j)·p·beta(i) / Z. Returns (piece →
    * expected count); empty when the word is unreachable (Z = 0). */
  private[graft] def expectedCounts(w: String,
      probs: collection.Map[String, Double],
      maxLen: Int): collection.Map[String, Double] = {
    val n = w.length
    val alpha = forward(w, probs, maxLen)
    val z = alpha(n)
    if (z <= 0) return Map.empty
    val beta = new Array[Double](n + 1)
    beta(n) = 1.0
    var i = n - 1
    while (i >= 0) {
      var acc = 0.0
      var k = i + 1
      val kMax = math.min(n, i + maxLen)
      while (k <= kMax) {
        if (beta(k) > 0) {
          val p = probs.getOrElse(w.substring(i, k), 0.0)
          if (p > 0) acc += p * beta(k)
        }
        k += 1
      }
      beta(i) = acc
      i -= 1
    }
    val out = collection.mutable.HashMap.empty[String, Double]
    var j = 0
    while (j < n) {
      if (alpha(j) > 0) {
        var k = j + 1
        val kMax = math.min(n, j + maxLen)
        while (k <= kMax) {
          val piece = w.substring(j, k)
          val p = probs.getOrElse(piece, 0.0)
          if (p > 0 && beta(k) > 0) {
            val e = alpha(j) * p * beta(k) / z
            if (e > 0) out.update(piece, out.getOrElse(piece, 0.0) + e)
          }
          k += 1
        }
      }
      j += 1
    }
    out
  }

  /** Viterbi segmentation under the trained vocabulary: the single
    * highest-probability piece sequence. Ties break toward the LONGER
    * last piece (deterministic, favors fewer pieces). Unreachable words
    * (a char outside the vocab) return null. */
  private[graft] def viterbi(w: String,
      probs: collection.Map[String, Double],
      maxLen: Int): Array[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(0.0)
    val back = Array.fill(n + 1)(-1)
    best(0) = 1.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (best(j) > 0) {
          val p = probs.getOrElse(w.substring(j, i), 0.0)
          // strict > with ascending j: the smallest j (longest final
          // piece) wins score ties — deterministic, favors fewer pieces
          if (p > 0 && best(j) * p > best(i)) {
            best(i) = best(j) * p
            back(i) = j
          }
        }
        j += 1
      }
      i += 1
    }
    if (best(n) <= 0) return null
    val pieces = collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { pieces += w.substring(back(pos), pos); pos = back(pos) }
    pieces.reverseIterator.toArray
  }

  /** Train a unigram vocabulary of (at most) `vocabSize` pieces.
    *
    * Seeding: all substrings up to `maxPieceLen` of the distinct words,
    * weighted by word frequency, top `seedCap` by (weight desc, piece) —
    * plus every single character (chars are never pruned: they guarantee
    * full coverage). Initial probs ∝ seed weights. Then `emRounds` of
    * distributed E (expected counts per distinct word, frequency-
    * weighted, 1e-6-quantized) + driver M (renormalize), followed by one
    * prune to `vocabSize` keeping all chars and the highest-probability
    * multi-char pieces (ties by piece string), and one final EM round to
    * re-fit the surviving vocabulary. */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
            emRounds: Int = 2, maxPieceLen: Int = 6,
            seedCap: Int = 512): Seq[Piece] = {
    require(vocabSize >= 1 && emRounds >= 1 && maxPieceLen >= 1 &&
      seedCap >= vocabSize, "bad unigram train parameters")
    val spark = df.sparkSession
    import spark.implicits._
    val wf = Words.freq(df, textCol).as[(String, Long)].rdd
      .map { case (w, f) => (w, f) }.cache()

    // seed candidates: substring weights, bounded collect at seedCap
    val subWeights = wf.flatMap { case (w, f) =>
      for {
        j <- 0 until w.length
        k <- (j + 1) to math.min(w.length, j + maxPieceLen)
      } yield (w.substring(j, k), f)
    }.reduceByKey(_ + _)
    val chars = subWeights.filter(_._1.length == 1).collect().sortBy(_._1)
    val charSet = chars.iterator.map(_._1).toSet
    // composite sort key (-count, piece): count ties break on the piece
    // string, so the seedCap cut is deterministic under any partitioning
    val topSeeds = subWeights.map { case (p, c) => ((-c, p), c) }
      .sortByKey().take(seedCap).map { case ((_, p), c) => (p, c) }
    val seeds = (topSeeds ++ chars).toMap // chars re-add with equal counts

    var probs: Map[String, Double] = {
      val total = seeds.valuesIterator.sum.toDouble
      seeds.map { case (p, c) => p -> c / total }
    }

    def emRound(current: Map[String, Double]): Map[String, Double] = {
      val b = spark.sparkContext.broadcast(current)
      // 1e-6 fixed-point BEFORE the cross-partition sum: integer adds are
      // associative, so the round is bit-stable under any partitioning
      val counts = wf.flatMap { case (w, f) =>
        expectedCounts(w, b.value, maxPieceLen).iterator.map {
          case (piece, e) => (piece, math.round(e * f * 1e6))
        }
      }.reduceByKey(_ + _).filter(_._2 > 0).collect()
      b.destroy()
      // char-coverage floor (SentencePiece's character_coverage idea):
      // a char whose expected count quantized to zero would break the
      // full-coverage guarantee — keep it at the 1-ulp floor instead
      val seen = counts.iterator.map(_._1).toSet
      val floored = counts ++
        charSet.diff(seen).toSeq.sorted.map(c => (c, 1L))
      val total = floored.iterator.map(_._2).sum.toDouble
      floored.iterator.map { case (p, c) => p -> c / total }.toMap
    }

    for (_ <- 1 to emRounds) probs = emRound(probs)

    // prune: chars always survive; best multi-char pieces fill the rest
    val keepMulti = probs.iterator
      .filter { case (p, pr) => p.length > 1 && pr > 0 }
      .toSeq.sortBy { case (p, pr) => (-pr, p) }
      .take(math.max(0, vocabSize - charSet.size))
      .map(_._1).toSet
    probs = probs.filter { case (p, _) =>
      charSet.contains(p) || keepMulti.contains(p) }
    probs = emRound(probs) // re-fit the surviving vocabulary
    wf.unpersist()
    probs.toSeq.sortBy { case (p, pr) => (-pr, p) }
      .map { case (p, pr) => Piece(p, pr) }
  }

  /** Frequency-seeded INTEGER piece scores — the ORACLE-REPLAYABLE score
    * table for [[segmentStatsInt]]. Vocabulary = every single character
    * of the corpus plus the `topMulti` highest-weight multi-char
    * substrings (weight = substring occurrences across distinct words ×
    * word frequency; ties broken on the piece string, so the cut is a
    * deterministic top-k, not a window). Score = ⌊scale · ln(cnt/total)⌋
    * — the unigram log-probability on a fixed-point grid, so Viterbi
    * under it is INTEGER dynamic programming that any engine replays
    * exactly. Every step before the single ln is an integer aggregate;
    * the ln's distance to floor boundaries must dwarf cross-engine ulp
    * drift (~1e-9 at scale=1e6), which the gate measures on its corpus.
    * Output: (piece, score). */
  def seedPieceScores(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
                      topMulti: Int = 64, scale: Long = 1000000L): DataFrame = {
    require(maxPieceLen >= 1 && topMulti >= 0 && scale >= 1,
      "bad seedPieceScores parameters")
    val subUdf = udf { (w: String) =>
      for {
        j <- 0 until w.length
        k <- (j + 1) to math.min(w.length, j + maxPieceLen)
      } yield w.substring(j, k)
    }
    val cand = Words.freq(df, textCol)
      .select(explode(subUdf(col("_w_"))).as("piece"), col("_f_"))
      .groupBy("piece").agg(sum(col("_f_")).as("cnt"))
    val chars = cand.where(length(col("piece")) === 1)
    val multi = cand.where(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(topMulti)
    val vocab = chars.unionByName(multi)
    val tot = vocab.agg(sum(col("cnt")).as("_tot_"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"),
        floor(lit(scale.toDouble) *
          log(col("cnt").cast("double") / col("_tot_").cast("double")))
          .cast("long").as("score"))
  }

  /** INTEGER-score Viterbi: the single piece sequence maximizing the
    * summed fixed-point scores. Tie rule identical to [[viterbi]]:
    * strict improvement with ascending backpointer j, so the smallest j
    * (longest final piece) wins exact ties — and with integer scores
    * "exact tie" is engine-exact, never a rounding accident. Words with
    * an uncoverable position return null. */
  private[graft] def viterbiInt(w: String,
      scores: collection.Map[String, Long], maxLen: Int): Array[String] = {
    val n = w.length
    val NEG = Long.MinValue
    val best = Array.fill(n + 1)(NEG)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0L
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (best(j) != NEG) {
          scores.get(w.substring(j, i)).foreach { s =>
            if (best(j) + s > best(i)) { best(i) = best(j) + s; back(i) = j }
          }
        }
        j += 1
      }
      i += 1
    }
    if (best(n) == NEG) return null
    val pieces = collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { pieces += w.substring(back(pos), pos); pos = back(pos) }
    pieces.reverseIterator.toArray
  }

  /** [[segmentStats]] under an INTEGER score table ([[seedPieceScores]]
    * shape) instead of float EM probabilities — the oracle-gated serving
    * path: the whole per-word DP is integer arithmetic, so a SQL replay
    * agrees bit-for-bit, ties included. Scores are vocabulary-sized by
    * contract (the BPE-trainer collect discipline). Output:
    * (`idCol`, n_words, n_pieces, n_unseg). */
  def segmentStatsInt(df: DataFrame, idCol: String, textCol: String,
                      scores: DataFrame): DataFrame = {
    val sm = scores.select(col("piece").cast("string"),
        col("score").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(sm.nonEmpty, "empty score table")
    val maxLen = sm.keysIterator.map(_.length).max
    Words.perDocument(df, idCol, textCol, "n_unseg") { w =>
      val pieces = viterbiInt(w, sm, maxLen)
      if (pieces == null) (1, true) else (pieces.length, false)
    }
  }

  /** Corpus log-likelihood per the vocabulary (frequency-weighted sum of
    * ln Z(word)); words with unreachable lattices contribute `floor`
    * (default -100) each — comparable across vocabularies. */
  def corpusLogLikelihood(df: DataFrame, textCol: String,
                          vocab: Seq[Piece], floor: Double = -100.0): Double = {
    val spark = df.sparkSession
    import spark.implicits._
    val maxLen = vocab.iterator.map(_.piece.length).max
    val b = spark.sparkContext.broadcast(
      vocab.iterator.map(p => p.piece -> p.prob).toMap)
    Words.freq(df, textCol).as[(String, Long)].rdd.map { case (w, f) =>
      val z = forward(w, b.value, maxLen)(w.length)
      f * (if (z > 0) math.log(z) else floor)
    }.sum()
  }

  /** Per-document Viterbi segmentation stats under a trained vocabulary:
    * (`idCol`, n_words, n_pieces, n_unseg) — the [[WordPiece]]
    * segmentStats shape, distinct-word memoized. Unsegmentable words
    * (unreachable lattice) count one "piece" and flag n_unseg. */
  def segmentStats(df: DataFrame, idCol: String, textCol: String,
                   vocab: Seq[Piece]): DataFrame = {
    require(vocab.nonEmpty, "empty unigram vocabulary")
    val maxLen = vocab.iterator.map(_.piece.length).max
    val pm = vocab.iterator.map(p => p.piece -> p.prob).toMap
    Words.perDocument(df, idCol, textCol, "n_unseg") { w =>
      val pieces = viterbi(w, pm, maxLen)
      if (pieces == null) (1, true) else (pieces.length, false)
    }
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Materialize.MaterializeOps

import scala.collection.mutable.ArrayBuffer

/** Byte-pair-encoding tokenizer training (public algorithm: Sennrich et
  * al. '16): start from characters, repeatedly merge the most frequent
  * adjacent symbol pair. The classic trainer operates on the corpus's
  * WORD-FREQUENCY table, not raw text — computing that table is the
  * distributed part (one groupBy over the corpus), after which each merge
  * round is a weighted pair count + a vocabulary rewrite over the distinct
  * words only. That is exactly the shape here: rounds are driver-
  * coordinated (TWO jobs per round — the 1-row pair-count argmax collect
  * plus the eager vocab checkpoint — like IVF's Lloyd iterations), all
  * counting/rewriting is distributed.
  *
  * Merge application is a plain Scala pass over the symbol array
  * ([[mergeOnePass]] / [[applyMerges]]) rather than a SQL expression fold:
  * whole-token comparisons need no separator encoding (a corpus token may
  * legally contain U+001F) and no suffix-width arithmetic (UTF-16 vs
  * code-point length mismatches can't arise). The DuckDB oracle replays
  * the SAME greedy-leftmost semantics as an unrolled separator-string
  * fold, which is what lets the driver hash-gate both the learned merge
  * table (bp01) and the segmentation counts (bp02).
  *
  * Plan depth is bounded at any vocab size: train() truncates lineage via
  * per-round `localCheckpoint`, and segmentCounts() applies the WHOLE
  * merge table in one UDF over a broadcast ranks map — the Catalyst plan
  * is a single Project regardless of whether there are 8 merges or 32k.
  */
object BpeTrainer {

  /** One learned merge: left + right symbol and the weighted pair count
    * that won the round. */
  case class Merge(rank: Int, left: String, right: String, n: Long)

  /** Greedy leftmost application of ONE merge (l, r): a single left-to-
    * right pass; a merged token immediately becomes the tail, so `aaa`
    * under (a,a) gives [aa, a] — non-overlapping, leftmost-first. */
  private[graft] def mergeOnePass(syms: IndexedSeq[String], l: String,
                                  r: String): IndexedSeq[String] = {
    val buf = new ArrayBuffer[String](syms.length)
    syms.foreach { x =>
      if (x == r && buf.nonEmpty && buf.last == l) buf(buf.length - 1) = l + r
      else buf += x
    }
    buf.toIndexedSeq
  }

  /** Apply a whole merge table in rank order, each rank one greedy-
    * leftmost pass. Semantics are EXACTLY sequential application, but the
    * scan skips ranks whose pair is absent: maintain a floor `minRank`
    * (sequential passes already ran below it — a later merge may create a
    * lower-rank pair, but that pass is over and must not re-fire), find
    * the smallest applicable rank >= floor among adjacent pairs, apply,
    * advance the floor. O(len · merges-applied) per word, independent of
    * table size — the 32k-vocab path costs the same plan as 8 merges. */
  private[graft] def applyMerges(word: String,
                                 ranks: Map[(String, String), Int],
                                 pairs: Map[Int, (String, String)]): IndexedSeq[String] = {
    // initial symbols are CODE POINTS, matching the SQL side's
    // substring(_w_, i, 1) in train() — mapping UTF-16 code units would
    // split a supplementary-plane symbol (emoji) into surrogate halves
    var cur: IndexedSeq[String] = {
      val cps = new ArrayBuffer[String]()
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        cps += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      cps.toIndexedSeq
    }
    var floor = 1
    var continue = cur.length > 1
    while (continue) {
      var best = Int.MaxValue
      var i = 0
      while (i < cur.length - 1) {
        ranks.get((cur(i), cur(i + 1))) match {
          case Some(rk) if rk >= floor && rk < best => best = rk
          case _ => ()
        }
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        val (l, r) = pairs(best)
        cur = mergeOnePass(cur, l, r)
        floor = best + 1
        continue = cur.length > 1
      }
    }
    cur
  }

  /** Learn `numMerges` merges from the whitespace-token stream of
    * `textCol`. Stops early if no adjacent pair remains. */
  def train(df: DataFrame, textCol: String, numMerges: Int): Seq[Merge] = {
    var syms = Words.freq(df, textCol)
      .select(col("_f_"),
        expr("transform(sequence(1, length(_w_)), i -> substring(_w_, i, 1))")
          .as("_syms_"))
      // eager localCheckpoint = persist + lineage truncation: every round
      // below starts from a constant-depth plan, so Catalyst analysis
      // stays O(1) per round instead of O(rounds) — at a real 32k-merge
      // vocab the chained-Project plan would explode long before data does
      .materializeRound()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // adjacent pairs via zipped slices (NOT sequence(1, n-1): Spark's
      // sequence runs DESCENDING when stop < start, so 1-symbol words
      // would fabricate a [1,0] index pair)
      val top = syms.select(col("_f_"), explode(expr(
          """zip_with(slice(_syms_, 1, size(_syms_) - 1),
            |         slice(_syms_, 2, size(_syms_) - 1),
            |         (a, b) -> named_struct('l', a, 'r', b))""".stripMargin))
          .as("_p_"))
        .select(col("_p_.l").as("l"), col("_p_.r").as("r"), col("_f_"))
        .groupBy("l", "r").agg(sum("_f_").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, l, r, c)
        val applyOne = udf((s: Seq[String]) =>
          mergeOnePass(s.toIndexedSeq, l, r))
        val next = syms
          .withColumn("_syms_", applyOne(col("_syms_")))
          .materializeRound()
        Superstep.release(syms)
        syms = next
        rank += 1
      }
    }
    Superstep.release(syms)
    merges.result()
  }

  /** The learned merge table as a DataFrame (rank, left, right, n). */
  def trainTable(spark: SparkSession, df: DataFrame, textCol: String,
                 numMerges: Int): DataFrame = {
    import spark.implicits._
    train(df, textCol, numMerges).toDF("rank", "left", "right", "n")
  }

  /** Apply learned merges (in rank order) and count BPE pieces per row:
    * [[Words.perDocument]] with the piece count of [[applyMerges]], so
    * segmentation runs once per DISTINCT word. The whole merge table
    * rides to executors as ONE broadcast ranks map applied by ONE UDF, so
    * plan size does not grow with the vocabulary. Output: (idCol,
    * bpe_pieces). */
  def segmentCounts(df: DataFrame, idCol: String, textCol: String,
                    merges: Seq[Merge]): DataFrame = {
    val ordered = merges.sortBy(_.rank)
    val bc = df.sparkSession.sparkContext.broadcast((
      ordered.map(m => (m.left, m.right) -> m.rank).toMap,
      ordered.map(m => m.rank -> ((m.left, m.right))).toMap))
    Words.perDocument(df, idCol, textCol, "n_unk") { w =>
      val (ranks, pairs) = bc.value
      (applyMerges(w, ranks, pairs).length, false)
    }.select(col(idCol), col("n_pieces").as("bpe_pieces"))
  }

  /** Broadcastable [[tokenizeToIds]] state: merge rank maps + the fitted
    * vocabulary. Base symbols come from the same SQL charization train()
    * uses, so the vocabulary is a pure function of (corpus, merges); the
    * collect is bounded — its result is the alphabet. Merge outputs take
    * ids 0..M−1 in rank order (first wins = min id on piece collisions);
    * single-char base symbols never collide with a (>= 2-char) merge. */
  private def tokenizerState(df: DataFrame, textCol: String,
                             ordered: Seq[Merge]) = {
    val baseChars = Words.stream(df, textCol)
      .select(explode(expr(
        "transform(sequence(1, length(_w_)), i -> substring(_w_, i, 1))"))
        .as("_c_"))
      .distinct().collect().map(_.getString(0)).sorted
    val vocab: Map[String, Int] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      ordered.zipWithIndex.foreach { case (mg, i) =>
        val p = mg.left + mg.right
        if (!m.contains(p)) m(p) = i
      }
      baseChars.zipWithIndex.foreach { case (c, j) => m(c) = ordered.size + j }
      m.toMap
    }
    df.sparkSession.sparkContext.broadcast((
      ordered.map(m => (m.left, m.right) -> m.rank).toMap,
      ordered.map(m => m.rank -> ((m.left, m.right))).toMap,
      vocab))
  }

  /** The tokenizer HANDOFF: segment every word with the learned merges
    * and map pieces to vocabulary ids — what a training loader actually
    * consumes. Vocabulary layout is the classic BPE one: merge outputs
    * take ids 0..M−1 in rank order, then the corpus' base symbols
    * (single code points, binary-sorted) follow; a piece string produced
    * by two different merges resolves to the smaller id; a piece outside
    * the vocabulary (possible only on text the merges weren't trained
    * on) maps to −1 rather than failing the batch.
    *
    * Segmentation runs per word OCCURRENCE inside one UDF: order-
    * preserving and plan-trivial, one output row per input row. A NULL
    * or wordless text gives an empty array.
    * Output: (idCol, token_ids array<int>). */
  def tokenizeToIds(df: DataFrame, idCol: String, textCol: String,
                    merges: Seq[Merge]): DataFrame = {
    val ordered = merges.sortBy(_.rank)
    val bc = tokenizerState(df, textCol, ordered)
    val idsUdf = udf { (text: String) =>
      val (ranks, pairs, v) = bc.value
      Words.of(text).flatMap { w =>
        applyMerges(w, ranks, pairs).iterator.map(p => v.getOrElse(p, -1))
      }.toArray
    }
    // widen: the per-document merge scan plans into the scan stage — one
    // input split serializes the whole corpus' segmentation (no-op on
    // well-split inputs)
    Parallelism.widen(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), idsUdf(col(textCol)).as("token_ids"))
  }
}

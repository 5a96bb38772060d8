package graft.operators

import org.apache.spark.sql.DataFrame

/** WordPiece-style greedy segmentation (public algorithm: Wu et al. '16,
  * the BERT tokenizer's inference rule): at each position consume the
  * LONGEST vocabulary piece that prefixes the remaining word; if no piece
  * matches, the whole word becomes a single `[UNK]`. Complements
  * [[BpeTrainer]] — BPE applies learned merges bottom-up, WordPiece
  * matches a finished vocabulary top-down, and real pipelines need both
  * (BPE-trained vocab served through a longest-match tokenizer is the
  * standard deployment shape).
  *
  * One piece-string set serves initial and continuation positions here;
  * the `##` marking of continuation pieces is a vocabulary-construction
  * convention (duplicate the string set with a prefix) and changes no
  * matching decision, so the demo keeps the undecorated set.
  *
  * Scale shape: the greedy scan runs once per DISTINCT word
  * ([[Words.perDocument]]) — UDF cost is dictionary-sized, not
  * corpus-sized — and the per-occurrence join back is a hash join on the
  * word key. The vocabulary rides the closure
  * (fine at 32k pieces; a million-piece vocab would move to a broadcast
  * variable, same plan). Per-word work is O(len · maxPieceLen) with no
  * backtracking.
  */
object WordPiece {

  /** Per-document segmentation stats under greedy longest-match:
    * (`idCol`, n_words, n_pieces, n_unk), where an UNK word contributes
    * exactly one piece. Words are [[Words]]' tokens of `textCol`;
    * documents with no word produce no row (same convention as the BPE
    * queries). */
  def segmentStats(df: DataFrame, idCol: String, textCol: String,
                   vocab: Set[String]): DataFrame = {
    require(vocab.nonEmpty, "empty WordPiece vocabulary")
    val maxPiece = vocab.iterator.map(_.length).max
    Words.perDocument(df, idCol, textCol, "n_unk") { w =>
      var pos = 0
      var np = 0
      var unk = false
      while (pos < w.length && !unk) {
        var l = math.min(maxPiece, w.length - pos)
        var found = 0
        while (l >= 1 && found == 0) {
          if (vocab.contains(w.substring(pos, pos + l))) found = l
          l -= 1
        }
        if (found == 0) unk = true else { np += 1; pos += found }
      }
      if (unk) (1, true) else (np, false)
    }
  }

  /** The standard vocabulary for [[segmentStats]]: every piece produced
    * by a BPE merge table plus the single characters of `charSet` — the
    * "serve a BPE-trained vocab through longest-match" deployment. */
  def vocabFrom(merges: Seq[BpeTrainer.Merge],
                charSet: Set[String]): Set[String] =
    merges.map(m => m.left + m.right).toSet ++ charSet
}

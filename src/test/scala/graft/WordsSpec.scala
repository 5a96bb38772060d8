package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BpeTrainer, UnigramLm, WordPiece}

/** The tokenizer family's word pass: every entry equals a per-row Scala
  * replay of its documented contract. A text's words are its
  * `\s+`-separated tokens, empty tokens dropped; a per-document stat sums
  * over every row of the document id and a document with no word has no
  * row; `tokenizeToIds` keeps one row per input row. */
class WordsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private def words(text: String): Seq[String] =
    if (text == null) Nil else text.split("\\s+").toSeq.filter(_.nonEmpty)

  private def codePoints(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  /** Random rows over a small shared vocabulary (so words repeat across
    * documents): whitespace runs of every `\s` kind, leading and trailing
    * separators, non-ASCII words, colliding doc ids, plus a NULL text, an
    * empty text, a whitespace-only text and one id shared by two rows. */
  private def corpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val fragments = Vector("a", "b", "c", "ab", "é", "ß", "日本", "z", "😀")
    val vocabulary = Vector.fill(12)(
      Seq.fill(1 + rnd.nextInt(4))(fragments(rnd.nextInt(fragments.size))).mkString)
    val seps = Vector(" ", "  ", "\t", "\t\t ", "\r\n", "\u000B", "\f ")
    def sep = seps(rnd.nextInt(seps.size))
    val rows = Seq.fill(30) {
      val ws = Seq.fill(rnd.nextInt(6))(vocabulary(rnd.nextInt(vocabulary.size)))
      val text = ws.mkString(sep)
      (rnd.nextInt(20).toLong, if (rnd.nextBoolean()) sep + text + sep else text)
    }
    rows ++ Seq((100L, null), (101L, ""), (102L, " \t\r\n "),
      (7L, "ab ab"), (7L, "ba"))
  }

  /** Per-document (n_words, n_pieces, n_unknown) under `seg`. */
  private def perDoc(rows: Seq[(Long, String)],
                     seg: String => (Int, Boolean)): Map[Long, (Long, Long, Long)] =
    rows.groupBy(_._1).map { case (id, rs) => id -> rs.flatMap(r => words(r._2)) }
      .collect { case (id, ws) if ws.nonEmpty =>
        val s = ws.map(seg)
        id -> ((ws.size.toLong, s.map(_._1.toLong).sum, s.count(_._2).toLong))
      }

  private def stats(df: DataFrame, unkCol: String): Map[Long, (Long, Long, Long)] = {
    assert(df.columns.toSeq == Seq("doc_id", "n_words", "n_pieces", unkCol))
    val rows = df.as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "one row per document")
    rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("word pass: every tokenizer entry equals its per-row replay") {
    for (seed <- Seq(7, 19)) {
      val rows = corpus(seed)
      val df = rows.toDF("doc_id", "text").repartition(3)
      val merges = BpeTrainer.train(df, "text", numMerges = 6)
      val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
      val pairs = merges.map(m => m.rank -> ((m.left, m.right))).toMap
      def bpe(w: String) = BpeTrainer.applyMerges(w, ranks, pairs)

      val counts = BpeTrainer.segmentCounts(df, "doc_id", "text", merges)
      assert(counts.columns.toSeq == Seq("doc_id", "bpe_pieces"))
      assert(counts.as[(Long, Long)].collect().sortBy(_._1).toSeq ==
        perDoc(rows, w => (bpe(w).length, false)).map { case (id, s) => id -> s._2 }
          .toSeq.sortBy(_._1), s"segmentCounts, seed $seed")

      val chars = rows.flatMap(r => words(r._2)).flatMap(codePoints).distinct.sorted
      val vocab = WordPiece.vocabFrom(merges, chars.toSet - "z")
      val maxPiece = vocab.map(_.length).max
      def longestMatch(w: String): (Int, Boolean) = {
        var pos = 0
        var n = 0
        while (pos < w.length) {
          (math.min(maxPiece, w.length - pos) to 1 by -1)
            .find(l => vocab(w.substring(pos, pos + l))) match {
            case Some(l) => pos += l; n += 1
            case None => return (1, true)
          }
        }
        (n, false)
      }
      assert(stats(WordPiece.segmentStats(df, "doc_id", "text", vocab), "n_unk") ==
        perDoc(rows, longestMatch), s"WordPiece.segmentStats, seed $seed")

      val pieces = (chars.filter(_ != "z") ++ Seq("ab", "日本", "abc"))
        .zipWithIndex.map { case (p, i) => UnigramLm.Piece(p, 0.5 / (2 + i)) }
      val probs = pieces.map(p => p.piece -> p.prob).toMap
      val maxLen = pieces.map(_.piece.length).max
      def unseg(p: Array[String]) = if (p == null) (1, true) else (p.length, false)
      assert(stats(UnigramLm.segmentStats(df, "doc_id", "text", pieces), "n_unseg") ==
        perDoc(rows, w => unseg(UnigramLm.viterbi(w, probs, maxLen))),
        s"UnigramLm.segmentStats, seed $seed")

      val scores = pieces.zipWithIndex.map { case (p, i) => p.piece -> -(1000L + 7L * i) }
      assert(stats(UnigramLm.segmentStatsInt(df, "doc_id", "text",
          scores.toDF("piece", "score")), "n_unseg") ==
        perDoc(rows, w => unseg(UnigramLm.viterbiInt(w, scores.toMap, maxLen))),
        s"UnigramLm.segmentStatsInt, seed $seed")

      val ids = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
        merges.sortBy(_.rank).zipWithIndex.foreach { case (mg, i) =>
          if (!m.contains(mg.left + mg.right)) m(mg.left + mg.right) = i
        }
        chars.zipWithIndex.foreach { case (c, j) => m(c) = merges.size + j }
        m.toMap
      }
      val tokenized = BpeTrainer.tokenizeToIds(df, "doc_id", "text", merges)
      assert(tokenized.columns.toSeq == Seq("doc_id", "token_ids"))
      def key(r: (Long, Seq[Int])) = (r._1, r._2.mkString(","))
      assert(tokenized.as[(Long, Seq[Int])].collect().toSeq.sortBy(key) ==
        rows.map { case (id, t) =>
          (id, words(t).flatMap(w => bpe(w).map(ids.getOrElse(_, -1))))
        }.sortBy(key), s"tokenizeToIds, seed $seed")
    }
  }

  test("tokenizeToIds: a NULL text gives an empty array, the row kept") {
    val df = Seq((1L, "ab ab"), (2L, null)).toDF("doc_id", "text")
    val merges = BpeTrainer.train(df, "text", numMerges = 1)
    val out = BpeTrainer.tokenizeToIds(df, "doc_id", "text", merges)
      .as[(Long, Seq[Int])].collect().toMap
    assert(out == Map(1L -> Seq(0, 0), 2L -> Seq()))
  }
}

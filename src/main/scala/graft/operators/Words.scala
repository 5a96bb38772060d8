package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The word pass of the tokenizer family ([[BpeTrainer]], [[WordPiece]],
  * [[UnigramLm]]) and the only place that knows its word rule: a text's
  * words are its `\s+`-separated tokens with empty tokens dropped, so a
  * NULL or empty text has no word.
  *
  * Segmentation is a pure function of the word, so every per-word
  * function runs once per DISTINCT word (the vocabulary, tiny next to the
  * corpus) and its result joins back to the occurrences: one
  * distinct-word exchange, one join back, one per-document aggregate.
  * The pass does not `Parallelism.widen` its input: widen's
  * partition-count probe runs the tokenize and the distinct as jobs while
  * the plan is built under AQE, and the action then runs them again.
  */
private[operators] object Words {

  private val separator = "\\s+"

  /** `text`'s words, for a per-row function: the same rule as [[stream]]. */
  def of(text: String): Iterator[String] =
    if (text == null) Iterator.empty
    else text.split(separator).iterator.filter(_.nonEmpty)

  /** One row per word occurrence of `textCol`: the `carry` columns, then
    * the word as `_w_`. */
  def stream(df: DataFrame, textCol: String, carry: String*): DataFrame =
    df.select(carry.map(col) :+ explode(split(col(textCol), separator)).as("_w_"): _*)
      .where(col("_w_") =!= "")

  /** Distinct words of `textCol` with their occurrence count: (_w_, _f_). */
  def freq(df: DataFrame, textCol: String): DataFrame =
    stream(df, textCol).groupBy("_w_").agg(count(lit(1)).as("_f_"))

  /** Per-document segmentation stats, `seg` run once per distinct word:
    * (`idCol`, n_words, n_pieces, `unkCol`), where `seg(w)` gives the
    * word's piece count and whether it is unknown, and `unkCol` counts the
    * unknown words. A document with no word has no row. */
  def perDocument(df: DataFrame, idCol: String, textCol: String,
                  unkCol: String)(seg: String => (Int, Boolean)): DataFrame = {
    val segUdf = udf(seg)
    val words = stream(df, textCol, idCol)
    val segmented = words.select("_w_").distinct()
      .withColumn("_seg_", segUdf(col("_w_")))
      .select(col("_w_"), col("_seg_._1").as("_np_"), col("_seg_._2").as("_unk_"))
    words.join(segmented, "_w_")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_np_").cast("long")).as("n_pieces"),
        sum(when(col("_unk_"), 1L).otherwise(0L)).as(unkCol))
  }
}

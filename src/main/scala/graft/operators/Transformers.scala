package graft.operators

import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.{SparseVector, Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** ML-style feature/text transformers (reference inventory SURVEY.md §2.8).
  * Implemented as plain functions/classes over DataFrames — each one maps a
  * reference Transformer/Estimator; Catalyst-friendly (built-in functions
  * where possible, UDFs only for vector construction). */
object Transformers {

  // ---------------------------------------------------------------------
  // ArrayHasher — tokens -> hashed term-frequency SparseVector
  // (reference: feature/ArrayHasher.scala:13-36; murmur3 % numFeatures, abs)
  // ---------------------------------------------------------------------
  def arrayHasher(numFeatures: Int, poly: Boolean = false): Column => Column = {
    val u = udf { (tokens: Seq[String]) =>
      if (tokens == null) null
      else {
        val counts = collection.mutable.HashMap.empty[Int, Double]
        tokens.foreach { t =>
          // poly=true swaps murmur for the SQL-expressible avalanched
          // polyHash64Mixed so a DuckDB oracle can replay bucket assignment
          // (tr01); default stays murmur (reference ArrayHasher parity).
          // remainderUnsigned matches the oracle's unsigned UHUGEINT % n.
          val idx =
            if (poly) java.lang.Long.remainderUnsigned(
              graft.functions.TextKernels.polyHash64Mixed(t), numFeatures.toLong).toInt
            else math.abs(scala.util.hashing.MurmurHash3.stringHash(t) % numFeatures)
          counts(idx) = counts.getOrElse(idx, 0.0) + 1.0
        }
        val (idx, vals) = counts.toArray.sortBy(_._1).unzip
        Vectors.sparse(numFeatures, idx, vals)
      }
    }
    (c: Column) => u(c)
  }

  // ---------------------------------------------------------------------
  // Tag2Vector — Estimator: tag dictionary -> multi-hot SparseVector
  // (reference: feature/Tag2Vector.scala:14-93; dictionary ordered by
  // frequency desc, minFreq floor, topClasses cap)
  // ---------------------------------------------------------------------
  case class Tag2VectorModel(dictionary: Map[String, Int]) {
    def size: Int = dictionary.size
    def transform(df: DataFrame, tagsCol: String, out: String): DataFrame = {
      val dict = dictionary
      val n = dict.size
      val u = udf { (tags: Seq[String]) =>
        val idx = if (tags == null) Array.empty[Int]
        else tags.iterator.map(t => dict.get(normTag(t)))
          .collect { case Some(i) => i }.toArray.distinct.sorted
        Vectors.sparse(n, idx, Array.fill(idx.length)(1.0))
      }
      df.withColumn(out, u(col(tagsCol)))
    }
  }

  private def normTag(t: String): String = if (t == null) null else t.trim.toLowerCase

  def fitTag2Vector(df: DataFrame, tagsCol: String, minFreq: Long = 1,
                    topClasses: Int = Int.MaxValue): Tag2VectorModel = {
    val freq = df.select(explode(col(tagsCol)).as("_tag_"))
      .select(lower(trim(col("_tag_"))).as("_tag_"))
      .groupBy("_tag_").agg(count(lit(1)).as("_n_"))
      .where(col("_n_") >= minFreq)
      .orderBy(col("_n_").desc, col("_tag_"))
      .limit(topClasses)
      .collect()
    Tag2VectorModel(freq.iterator.zipWithIndex
      .map { case (r, i) => r.getString(0) -> i }.toMap)
  }

  // ---------------------------------------------------------------------
  // AddId (reference: text/AddId.scala) — sequential or scale-safe
  // ---------------------------------------------------------------------
  /** Global sequential id by sort order. Single-partition window — the
    * reference accepts the same cost; use [[addIdUnordered]] at scale
    * (unique-not-consecutive, zero shuffle) or a
    * `Packing.runningTotalSharded`-style prefix rank for consecutive ids.
    * The lane is self-defending: an eager row-count probe
    * raises by name above `singleTaskRowBound`
    * ([[graft.operators.Guards.SingleTaskRowBound]], 2^22) instead of
    * silently serializing a large input through one sort task; `<= 0`
    * opts into the sequential cost. */
  def addIdSequential(df: DataFrame, orderCol: String, out: String = "id",
                      singleTaskRowBound: Long =
                        Guards.SingleTaskRowBound): DataFrame = {
    Guards.singleTaskLaneProbe(df, "addIdSequential", singleTaskRowBound,
      "use addIdUnordered (unique ids, no shuffle) or a sharded prefix " +
        "rank (Packing.runningTotalSharded over a per-row 1) for " +
        "consecutive ids, or pass singleTaskRowBound = 0 to accept the " +
        "cost")
    df.withColumn(out,
      (row_number().over(Window.orderBy(col(orderCol))) - 1).cast(LongType))
  }

  /** Unique (not consecutive) ids with no shuffle — the 100 TB variant.
    * The ids are stable only while the input plan re-evaluates in the
    * same row order (true for scans; NOT guaranteed for shuffle
    * outputs): a caller that branches the result into multiple
    * computations should materialize it first ([[Materialize.round]]). */
  def addIdUnordered(df: DataFrame, out: String = "id"): DataFrame =
    df.withColumn(out, monotonically_increasing_id())

  // ---------------------------------------------------------------------
  // SentenceBuilder (reference: text/SentenceBuilder.scala:10-89)
  // ---------------------------------------------------------------------
  /** Split text into phrases on hard separators, re-splitting phrases
    * longer than maxPhraseSize on soft separators, dropping phrases shorter
    * than minPhraseSize (in tokens). Explodes to (phrase, phraseId). */
  def sentenceSplit(hardSeps: String = "[.!?\\n]", softSeps: String = "[,;:()]",
                    minPhraseSize: Int = 1, maxPhraseSize: Int = 50) =
    udf { (text: String) =>
      if (text == null) Seq.empty[String]
      else {
        val hard = text.split(hardSeps).map(_.trim).filter(_.nonEmpty)
        hard.flatMap { p =>
          val nTok = p.split("\\s+").length
          if (nTok <= maxPhraseSize) Seq(p)
          else p.split(softSeps).map(_.trim).filter(_.nonEmpty).toSeq
        }.filter(_.split("\\s+").length >= minPhraseSize).toSeq
      }
    }

  def buildSentences(df: DataFrame, textCol: String,
                     minPhraseSize: Int = 1, maxPhraseSize: Int = 50): DataFrame =
    df.select(col("*"),
      posexplode(sentenceSplit(minPhraseSize = minPhraseSize,
        maxPhraseSize = maxPhraseSize)(col(textCol)))
        .as(Seq("phraseId", "phrase")))

  // ---------------------------------------------------------------------
  // Word2VecApplier (reference: text/Word2VecApplier.scala:33-169) —
  // tokens -> summed doc vector via exact-match join against an embedding
  // table. One [[Elements.perRow]] pass: explode + equi-join + ArraySumAgg;
  // Catalyst broadcasts the lexicon when it is small.
  // ---------------------------------------------------------------------
  /** Element-wise array sum aggregator — plain addition (no stable-mean
    * rescaling like ml's Summarizer), so integer-valued doubles stay exact
    * and order-independent. */
  private object ArraySumAgg
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    import org.apache.spark.sql.{Encoder, Encoders}
    def zero: Array[Double] = Array.empty
    def reduce(b: Array[Double], v: Seq[Double]): Array[Double] =
      if (v == null) b
      else if (b.isEmpty) v.toArray
      else { var i = 0; while (i < b.length) { b(i) += v(i); i += 1 }; b }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** @param vectors (token: string, vector: array<double>) lexicon
    * @return df + `out` (array<double> summed doc vector, NULL when no
    *         token hits) + `hit_ratio` */
  def applyWordVectors(df: DataFrame, tokensCol: String, vectors: DataFrame,
                       tokenCol: String = "token", vecCol: String = "vector",
                       out: String = "doc_vector"): DataFrame = {
    val vecSum = udaf(ArraySumAgg)
    Elements.perRow(df, tokensCol, Seq(out, "hit_ratio")) { e =>
      e.frame.join(vectors.select(lower(col(tokenCol)).as(e.elem),
        col(vecCol).cast("array<double>").as("_vec_")), Seq(e.elem), "left")
    } { _ =>
      // hit ratio over ALL tokens; the vector sum skips misses (a
      // zero-vector fallback would need the lexicon's dimensionality)
      val hits = sum(when(col("_vec_").isNotNull, 1).otherwise(0))
      Seq(when(hits > 0, vecSum(col("_vec_"))),
        hits / greatest(count(lit(1)), lit(1)))
    }
  }

  // ---------------------------------------------------------------------
  // Word2VecIndex (reference: text/Word2VecIndex.scala — a driver-side
  // token -> vector map with nearest-neighbour probing; the distributed
  // path is applyWordVectors' join, this is the in-process lookup surface)
  // ---------------------------------------------------------------------
  case class Word2VecIndex(vectors: Map[String, Array[Double]]) {
    def dim: Int = vectors.values.headOption.map(_.length).getOrElse(0)
    def apply(token: String): Option[Array[Double]] =
      vectors.get(if (token == null) null else token.toLowerCase)
    /** Brute-force cosine top-k over the lexicon (driver-side; the lexicon
      * is the small side by construction). Deterministic tie-break. */
    def nearest(v: Array[Double], k: Int): Seq[(String, Double)] =
      vectors.iterator.map { case (t, w) =>
        (t, graft.functions.VectorKernels.cosine(v, w))
      }.toSeq.sortBy { case (t, s) => (-s, t) }.take(k)
  }

  def fitWord2VecIndex(lexicon: DataFrame, tokenCol: String = "token",
                       vecCol: String = "vector"): Word2VecIndex =
    Word2VecIndex(
      lexicon.select(lower(col(tokenCol)), col(vecCol).cast("array<double>"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1).toArray)
        .toMap)

  // ---------------------------------------------------------------------
  // GroupBy transformer (reference: feature/GroupBy.scala:10-117) —
  // per-column aggregation policies incl. element-wise vector sum
  // ---------------------------------------------------------------------
  sealed trait Policy
  case object PMax extends Policy
  case object PMin extends Policy
  case object PSum extends Policy
  /** "peek": deterministic first — the row minimizing `orderCols` (ties
    * broken by the value itself so the result is engine-independent). */
  case class PFirst(orderCols: Seq[String]) extends Policy
  case object PVectorSum extends Policy  // ml.linalg vector element-wise

  def groupByPolicies(df: DataFrame, keyCols: Seq[String],
                      policies: Seq[(String, Policy)]): DataFrame = {
    val aggs = policies.map {
      case (c, PMax) => max(col(c)).as(c)
      case (c, PMin) => min(col(c)).as(c)
      case (c, PSum) => sum(col(c)).as(c)
      case (c, PFirst(ord)) =>
        min_by(col(c), struct((ord.map(col) :+ col(c)): _*)).as(c)
      // vector policy routes through vector_to_array + the exact ArraySumAgg:
      // ml's Summarizer.sum does stable-mean rescaling (335.0000000000001),
      // which breaks oracle parity for integer-valued vectors
      case (c, PVectorSum) =>
        val vecSum = udaf(ArraySumAgg)
        array_to_vector(vecSum(vector_to_array(col(c)))).as(c)
    }
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---------------------------------------------------------------------
  // Lemmatiser (reference: text/Lemmatizer.scala:14-97) — exact-match join
  // against a lexicon; picks the lemma whose POS-tag vector best matches
  // the neighbouring tokens' (simplified viterbi-lite: previous tag only).
  // ---------------------------------------------------------------------
  /** @param lexicon (simplified: string, lemma: string) flattened lexicon —
    * one row per (form, lemma); first lemma per form wins ties. */
  def lemmatize(df: DataFrame, tokensCol: String, lexicon: DataFrame,
                out: String = "lemmas"): DataFrame =
    Elements.perRow(df, tokensCol, Seq(out)) { e =>
      e.frame.join(lexicon.groupBy(lower(col("simplified")).as(e.elem))
        .agg(min(col("lemma")).as("_lemma_")), Seq(e.elem), "left")
    } { e =>
      Seq(Elements.inOrder(col(e.pos), coalesce(col("_lemma_"), col(e.elem))))
    }

  // ---------------------------------------------------------------------
  // Lemmatiser with POS disambiguation (reference text/Lemmatizer.scala:
  // 52-91): ambiguous forms carry several (lemma, POS-vector) variants; the
  // chosen lemma maximizes POS-compatibility with its neighbours
  // (cosine(prevTags, variant) transitions), searched with the PTree-style
  // beam (reference search/PTree.scala:6-69 via functions.BeamSearch).
  // ---------------------------------------------------------------------
  private def cosSafe(a: Array[Double], b: Array[Double]): Double = {
    if (a.length == 0 || b.length == 0 || a.length != b.length) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Items: (token, variants) per element, in element order. */
  private val disambigUdf = udf { (items: Seq[org.apache.spark.sql.Row]) =>
    val options: Seq[Seq[(String, Array[Double])]] = items.map { r =>
      val tok = r.getString(0)
      val vars = r.getSeq[org.apache.spark.sql.Row](1)
      if (vars == null || vars.isEmpty) Seq((tok, Array.empty[Double]))
      else vars.map(v => (v.getString(0),
        Option(v.getSeq[Double](1)).map(_.toArray).getOrElse(Array.empty[Double])))
        .sortBy(_._1) // deterministic option order
    }
    graft.functions.BeamSearch
      .bestPath[(String, Array[Double])](options,
        (a, b) => cosSafe(a._2, b._2), beamWidth = 32)
      ._1.map(_._1)
  }

  /** @param lexicon (simplified: string, lemma: string, pos: array<double>)
    *                — one row per VARIANT; ambiguous forms have several.
    * @return df + `out`: per token the POS-disambiguated lemma (unknown
    *         tokens pass through). Join + per-doc beam, shuffle-native. */
  def lemmatizeDisambiguated(df: DataFrame, tokensCol: String, lexicon: DataFrame,
                             out: String = "lemmas"): DataFrame =
    Elements.perRow(df, tokensCol, Seq(out)) { e =>
      val lex = lexicon.select(lower(col("simplified")).as(e.elem),
        col("lemma").as("_lemma_"), col("pos").cast("array<double>").as("_pv_"))
      e.frame.join(lex, Seq(e.elem), "left")
        .groupBy(e.id, e.pos, e.elem)
        // collect_list drops nulls: unmatched tokens get an empty variant list
        .agg(collect_list(when(col("_lemma_").isNotNull,
          struct(col("_lemma_"), col("_pv_")))).as("_vars_"))
    } { e =>
      Seq(disambigUdf(Elements.inOrder(col(e.pos), struct(col(e.elem), col("_vars_")))))
    }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one keyed element pass behind the array-lookup family
  * (`Transformers.applyWordVectors`, `lemmatize`, `lemmatizeDisambiguated`
  * and `FuzzyLookup.lookupArray`): each row of a frame gets a pinned id,
  * its array explodes to (id, position, element) rows, the caller's step
  * turns those into per-element results, the results aggregate back per
  * id, and the aggregates join back onto the pinned rows. */
private[operators] object Elements {

  /** The element rows of one [[perRow]] call: `frame` holds exactly the
    * columns `id`, `pos` (0-based position in the array) and `elem`. */
  final case class Rows(frame: DataFrame, id: String, pos: String, elem: String)

  /** `stem_`, else `stem1_`, `stem2_`, …: the first that is not `taken`. */
  def fresh(stem: String, taken: Seq[String]): String =
    Iterator.from(0).map(i => if (i == 0) s"${stem}_" else s"$stem${i}_")
      .find(c => !taken.contains(c)).get

  /** `df` plus one column per name in `outs`: `aggregate` evaluated over
    * each row's element results (the frame `perElement` returns, grouped by
    * `id`). A NULL or empty array has no element, so its outs are NULL.
    *
    * The row id is `monotonically_increasing_id`, pinned with the eager
    * [[Materialize.round]]: the id is read both by the element pipeline and
    * by the join back, and an unpinned id over a shuffle output may be
    * computed in another row order the second time. A lazy pin would not
    * do either, since the id can be recomputed before its lineage is cut.
    *
    * The id, position and element columns are named apart from `df`'s
    * columns, `outs` and `avoid` (the names the caller's step adds), so no
    * caller column is replaced. */
  def perRow(df: DataFrame, arrayCol: String, outs: Seq[String],
             avoid: Seq[String] = Nil)(perElement: Rows => DataFrame)(
      aggregate: Rows => Seq[Column]): DataFrame = {
    val taken = df.columns.toSeq ++ outs ++ avoid
    val Seq(id, pos, elem) = Seq("_eid", "_epos", "_elem").map(fresh(_, taken))
    val keyed = df.withColumn(id, monotonically_increasing_id())
      .transform(Materialize.round)
    val rows = Rows(keyed.select(col(id),
      posexplode(col(arrayCol)).as(Seq(pos, elem))), id, pos, elem)
    val aggs = aggregate(rows).zip(outs).map { case (c, o) => c.as(o) }
    val per = perElement(rows).groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
    keyed.as("EK").join(per.as("EP"), col(s"EK.`$id`") === col(s"EP.`$id`"), "left")
      .select(df.columns.map(c => col(s"EK.`$c`")) ++
        outs.map(o => col(s"EP.`$o`")): _*)
  }

  /** Aggregate: `value` of each element row, in element order (`pos`, then
    * `value` for rows that share a position). */
  def inOrder(pos: Column, value: Column): Column =
    transform(array_sort(collect_list(struct(pos.as("p"), value.as("v")))),
      _.getField("v"))
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet checkpoint helper (reference core/util/util.scala:44-78):
  * write-then-reread cuts lineage and forces materialization — the
  * reference's (and still the pragmatic) answer to iterative plans that
  * outgrow the optimizer.
  *
  * Parquet field names may not contain ` ,;{}()\n\t=` — the reference
  * round-trips such names with a `>>NN<<` escape (util.scala:20-27); we do
  * the same so arbitrary user column names survive a checkpoint.
  */
object Checkpoint {

  // '<' and '>' are legal parquet name characters but are escaped anyway
  // (round 18): they are the escape syntax itself, and a LITERAL column
  // named like ">>65<<" would pass encode untouched and then be rewritten
  // to "A" by decode on read — silent name corruption. Escaping both
  // makes decode(encode(x)) == x for EVERY name: after encoding, '<'/'>'
  // appear only inside escapes this writer produced.
  private val illegal = " ,;{}()\n\t=<>"

  def encodeName(name: String): String =
    name.flatMap(c => if (illegal.contains(c)) s">>${c.toInt}<<" else c.toString)

  def decodeName(name: String): String =
    ">>([0-9]{1,3})<<".r.replaceAllIn(name, m =>
      java.util.regex.Matcher.quoteReplacement(m.group(1).toInt.toChar.toString))

  /** Write `df` to parquet at `path` (overwriting) and read it back.
    * Illegal column characters are escaped on write and restored on read —
    * INCLUDING `partitionBy` names (round 19): encode renames every data
    * column, so a partition column passed under its original illegal name
    * used to die in Spark's analyzer with a column-not-found instead of
    * either working or raising by name. The writer now partitions on the
    * ENCODED name (directory names carry the `>>NN<<` escape; Spark's own
    * partition-path escaping keeps the path legal) and the read-back
    * decode loop restores it like any other column. */
  def checkpoint(df: DataFrame, path: String,
                 partitionBy: Seq[String] = Nil,
                 reuseExisting: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val missing = partitionBy.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"Checkpoint.checkpoint: partitionBy column(s) " +
        s"${missing.mkString("[", ", ", "]")} not present in the frame — " +
        s"available: ${df.columns.mkString("[", ", ", "]")} (pass the " +
        "ORIGINAL name; illegal characters are escaped internally)")
    if (!(reuseExisting && exists(spark, path))) {
      val encoded = df.columns.foldLeft(df) { (acc, c) =>
        val enc = encodeName(c)
        if (enc == c) acc else acc.withColumnRenamed(c, enc)
      }
      val writer = encoded.write.mode("overwrite")
      val encodedParts = partitionBy.map(encodeName)
      (if (partitionBy.nonEmpty) writer.partitionBy(encodedParts: _*)
       else writer).parquet(path)
    }
    val back = Parquet.read(spark, path)
    back.columns.foldLeft(back) { (acc, c) =>
      val dec = decodeName(c)
      if (dec == c) acc else acc.withColumnRenamed(c, dec)
    }
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

package org.apache.spark.sql

import org.apache.spark.sql.classic.ExpressionUtils
import graft.functions.{CosineSimilarity, DotProduct}

/** Column/SQL bridges for graft's native Catalyst expressions.
  *
  * Lives in the `org.apache.spark.sql` package because the
  * Column <-> Expression converters (`ExpressionUtils`) are
  * `private[sql]` in Spark 4 — the standard pattern for third-party
  * expression libraries.
  */
object GraftFunctions {

  /** Codegen'd cosine similarity of two array<float>/array<double> cols. */
  def cosine_similarity(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd ascending-index double dot product of two
    * array<float>/array<double> cols (bit-identical to the
    * aggregate-over-zip_with idiom it replaces). */
  def dot_product(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Register `cosine_similarity` and `dot_product` for SQL use on this
    * session, as [[graft.GraftExtensions]] does for every session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.createOrReplaceTempFunction("cosine_similarity",
      exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction("dot_product",
      exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
  }
}

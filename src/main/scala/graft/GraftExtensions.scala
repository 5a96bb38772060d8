package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, DotProduct}

/** The library's install hook — the standard Spark deployment path for a
  * third-party expression library:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * registers graft's native Catalyst expressions in EVERY session the
  * application builds (including thrift/connect-served ones), with no
  * per-session `GraftFunctions.register` call. Cluster-wide SQL users get
  * `cosine_similarity(array<float>, array<float>)` as a first-class,
  * codegen'd function. The programmatic per-session form
  * ([[org.apache.spark.sql.GraftFunctions.register]]) stays available for
  * notebook use; both bind the same expression classes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        "cosine_similarity"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName,
        "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: ascending-index double dot product of two
  * `array<float>` / `array<double>` columns, with full whole-stage-codegen
  * support.
  *
  * Replaces the `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
  * 0.0, (acc, x) -> acc + x)` idiom BIT-FOR-BIT: the accumulation is the
  * same IEEE double additions in the same ascending index order, so every
  * oracle-replayed cosine/norm computed through it hashes identically.
  * The higher-order-function form never enters whole-stage codegen
  * (`zip_with`/`aggregate` evaluate their lambda per element through an
  * interpreted expression tree with variable binding), which made it the
  * dominant per-row cost of the within-cluster pair loops at soak scale;
  * this expression compiles to a primitive loop inside the surrounding
  * codegen span — no boxing, no per-element dispatch.
  *
  * Length semantics: both arrays must have the same length; a mismatch
  * raises by name with both lengths ([[VectorArgs.length]]), as does
  * [[CosineSimilarity]]. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_product needs two array<float> or two array<double> args, " +
            s"got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = VectorArgs.length("dot_product", x, y)
    var dot = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = graft.functions.VectorArgs.length("dot_product", $x, $y);
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $x.$getter($i) * (double) $y.$getter($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** The shared length of two vector arguments. */
object VectorArgs {

  /** `x`'s length; raises by name when `y`'s differs, instead of reading
    * only the shorter array. */
  def length(fn: String, x: ArrayData, y: ArrayData): Int = {
    val a = x.numElements()
    val b = y.numElements()
    if (a != b) throw new IllegalArgumentException(
      s"$fn: array arguments differ in length ($a vs $b)")
    a
  }
}

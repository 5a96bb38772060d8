package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two `array<float>` /
  * `array<double>` columns, with full whole-stage-codegen support.
  *
  * This is the hot inner kernel of the ANN/near-dup operators; as a plain
  * Scala UDF every row pays deserialization of both arrays into boxed
  * `Seq[Float]` plus the codegen boundary. As a codegen'd expression the
  * generated code reads the unsafe array data in place — no boxing, no
  * encoder round-trip — and stays inside the surrounding
  * WholeStageCodegen span.
  *
  * Length semantics: both arrays must have the same length; a mismatch
  * raises by name with both lengths ([[VectorArgs.length]]).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity needs two array<float> or two array<double> args, " +
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
    val n = VectorArgs.length("cosine_similarity", x, y)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
    } else {
      while (i < n) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
    }
    val d = math.sqrt(nx) * math.sqrt(ny)
    if (d == 0.0) 0.0 else dot / d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val d = ctx.freshName("d")
      s"""
         |int $n = graft.functions.VectorArgs.length("cosine_similarity", $x, $y);
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.$getter($i);
         |  double $yi = (double) $y.$getter($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $d = Math.sqrt($nx) * Math.sqrt($ny);
         |${ev.value} = ($d == 0.0) ? 0.0 : $dot / $d;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  // Column/SQL entry points live in org.apache.spark.sql.GraftFunctions —
  // the Column <-> Expression bridge (ExpressionUtils) is private[sql].
}

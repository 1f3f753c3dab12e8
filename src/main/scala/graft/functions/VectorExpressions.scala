package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns.
  *
  * The composable formulation (`transform` casts + `zip_with` product +
  * `aggregate` fold, see [[graft.ops.Similarity.cosine]]) materializes three
  * intermediate arrays per comparison; at ANN scale (corpus × queries
  * comparisons) that allocation dominates. This expression fuses the whole
  * computation into one pass over the two arrays — no intermediates —
  * inside whole-stage codegen: the generated code is one call into
  * [[VectorExpressions.cosineOf]], which eval runs too.
  *
  * Semantics match the composable form bit-for-bit: elements are widened
  * float→double, products accumulated left-to-right, result =
  * dot / (sqrt(normA) * sqrt(normB)). Null if either side is null; arrays
  * must be equal length (shorter length used, mirroring zip_with-with-nulls
  * would differ — we require equal-dim embeddings upstream).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity requires two array<float> args, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorExpressions.cosineOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorExpressions.cosineOf($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** The cosine kernel: one pass over both arrays, no intermediates. */
  def cosineOf(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** A Column invoking `cosine_native` ([[Registry.call]]). */
  def cosineNative(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column =
    Registry.call(spark, "cosine_native", exprs => CosineSimilarity(exprs.head, exprs(1)), a, b)
}

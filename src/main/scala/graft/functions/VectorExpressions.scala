package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
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
  * computation into one pass over the two arrays — no intermediates — with
  * full whole-stage-codegen support via [[doGenCode]].
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** A Column invoking `cosine_native` ([[Registry.call]]). */
  def cosineNative(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column =
    Registry.call(spark, "cosine_native", exprs => CosineSimilarity(exprs.head, exprs(1)), a, b)
}
